"""Graph analytics beyond PageRank on the same pages/edges relations.

The reference computes exactly one graph metric (PageRank); these are
the natural extensions a graph-shaped corpus invites, built on the
identical scale skeleton as :mod:`.pagerank`: static adjacency
hash-partitioned + persisted once, per-iteration work shuffles only the
small (title, label) relation, map-side partial aggregation on the min.

Connected components use fixed-iteration hash-min label propagation —
after k rounds every node holds the lexicographic-min title reachable
within k undirected hops, and once k ≥ graph diameter that IS the
component id.  Fixed k (like the reference's fixed 10 PageRank rounds,
PageRankAlgorithm.java:96-114) keeps the op deterministic and lets the
DuckDB oracle unroll the same recurrence exactly.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .pagerank import edges
from .scale import (
    _supersede,
    cache,
    iterate,
    label_fixpoint,
    reliable,
    staged,
    truncate_lineage,
    unchanged,
)

CC_ITERATIONS = 8


def undirected_edges(
    pages: DataFrame,
    key: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distinct undirected (a, b) pairs between VALID pages (phantom
    targets carry no label and cannot merge components — same validity
    gate as the rank join, F3).

    ``key``/``num_partitions``: callers that persist this relation
    hash-partitioned for an iterative loop pass their loop key here so
    the dedup itself establishes that partitioning — the explicit
    repartition runs BEFORE the distinct, whose ClusteredDistribution
    on (src, dst) is satisfied by HashPartitioning on the single key
    (a subset), so the old shape's two full exchanges of the symmetric
    relation (distinct's own hash(src, dst) + the caller's
    repartition) collapse into one (guide §2.4: two operations keyed
    compatibly share one exchange).  Same output set either way."""
    e = edges(pages).select("src", "dst")
    valid = pages.select(F.col("title").alias("dst"))
    e = e.join(valid, "dst")  # drop phantom endpoints
    sym = e.select("src", "dst").unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.where(F.col("src") != F.col("dst"))
    if key is not None:
        if num_partitions is None:
            # key without an explicit width would reach
            # repartition(None, key) — a TypeError in PySpark; default
            # to the configured shuffle width instead of raising deep
            # inside the plan
            num_partitions = int(
                pages.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions", "32"
                )
            )
        sym = sym.repartition(num_partitions, key)
    return sym.distinct()


def _canonical_undirected(pages: DataFrame) -> DataFrame:
    """Distinct canonical (u < v) undirected pairs between valid pages
    — :func:`undirected_edges` restricted to one direction, deduped on
    the least/greatest canonical form so the distinct processes |E'|
    rows instead of the symmetric 2|E'| (same validity gate and
    self-loop exclusion)."""
    e = edges(pages).select("src", "dst")
    valid = pages.select(F.col("title").alias("dst"))
    ev = e.join(valid, "dst").where(F.col("src") != F.col("dst"))
    return ev.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
    ).distinct()


def _cc_stage(pages: DataFrame, key: str = "src") -> list[DataFrame]:
    """The label loops' static caches (titles, sym), staged once and
    hash-partitioned at the measured width (guide §2); ``sym`` is keyed
    on the column the round joins the labels on."""
    with staged(pages) as (p, parts, _):
        return cache(
            p.select("title").repartition(parts, "title"),
            undirected_edges(p, key=key, num_partitions=parts),
        )


def _cc_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE hash-min round: labels pulled across the cached symmetric
    adjacency, min-aggregated, min-merged into the current labels.
    Extracted so tools/dump_round_plans.py can capture the true
    PER-ROUND plan (the loop's returned frame is a truncated leaf, so
    its explain proves nothing about round shape)."""
    neigh_min = (
        sym.alias("e")
        .join(labels.alias("l"), F.col("e.src") == F.col("l.title"))
        .groupBy(F.col("e.dst").alias("title"))
        .agg(F.min("l.component").alias("neigh"))
    )
    # labels is closed over the titles set by construction (seeded
    # from titles, left-join preserves every row), so no join back
    # through titles is needed — one wide op fewer per round
    return (
        labels.alias("l")
        .join(neigh_min.alias("n"), "title", "left")
        .select(
            "title",
            F.least(
                F.col("l.component"),
                F.coalesce(F.col("n.neigh"), F.col("l.component")),
            ).alias("component"),
        )
    )


def connected_components(
    pages: DataFrame,
    *,
    iterations: int = CC_ITERATIONS,
) -> DataFrame:
    """(title, component): hash-min propagation for ``iterations``
    rounds over the undirected link graph.

    Per round: each node's label becomes min(own, min over neighbors) —
    one join (labels into the cached symmetric adjacency) + one min
    aggregation + one left join back to all nodes, exactly the
    PageRank iteration shape with sum→min.  Isolated pages keep their
    own title as component.
    """
    titles, sym = _cc_stage(pages)
    labels = titles.select("title", F.col("title").alias("component"))
    step = partial(_cc_round, sym)
    return iterate(labels, step, rounds=iterations)[0]


def connected_components_until(
    pages: DataFrame,
    *,
    max_iterations: int = 50,
) -> DataFrame:
    """(title, component, iterations): hash-min propagation to the
    FIXPOINT — iterate until no label changes (the true components;
    the fixed-k variant stops at k regardless.  On the synthetic corpus
    the fixpoint lands around k≈10-12, scaling ~log N).

    Stop test: scale.label_fixpoint — one narrow fingerprint aggregate
    per round, the exact old-vs-new label join only on a fingerprint
    match (the cc_star count-first discipline applied to labels).  The
    old per-round changed-count join doubled every round's wide-op
    count.  At extreme diameters a production system would switch to
    pointer jumping (large/small-star) for O(log d) rounds; hash-min
    keeps the per-round plan identical to the oracle-checked fixed-k
    operator.
    """
    titles, sym = _cc_stage(pages)
    labels = truncate_lineage(
        titles.select("title", F.col("title").alias("component"))
    )
    labels, done = iterate(
        labels,
        partial(_cc_round, sym),
        rounds=max_iterations,
        stop=label_fixpoint(labels, "title", "component"),
    )
    return labels.select("title", "component", F.lit(done).alias("iterations"))


def _star_round(edges: DataFrame) -> DataFrame:
    """ONE large-star + small-star rewrite of the canonical (u < v)
    edge set (see :func:`connected_components_star`)."""
    # ---- large-star ----
    symd = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        symd.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    )
    ls = (
        symd.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.least(F.col("v"), F.col("m")).alias("u"),
            F.greatest(F.col("v"), F.col("m")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # ---- small-star (group by the larger endpoint) ----
    s = ls.select(F.col("v").alias("u"), F.col("u").alias("v"))  # v < u now
    mn = s.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
    return (
        s.join(mn, "u")
        .select(
            # re-point each smaller neighbor v and u itself at m
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("x"), F.col("m").alias("y")),
                    F.struct(F.col("u").alias("x"), F.col("m").alias("y")),
                )
            ).alias("e")
        )
        .select(
            F.least(F.col("e.x"), F.col("e.y")).alias("u"),
            F.greatest(F.col("e.x"), F.col("e.y")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    pages: DataFrame,
    *,
    max_rounds: int = 40,
) -> DataFrame:
    """(title, component): connected components in O(log n) rounds via
    alternating large-star / small-star edge rewriting (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    100 TB answer for HIGH-DIAMETER graphs, where hash-min label
    propagation (:func:`connected_components_until`) needs a round per
    hop of diameter.

    Per round (all built-in ops, map-side combine on the mins):
    - large-star: group the symmetric edge list by node, attach
      ``m = min(neighbors ∪ self)``, and re-point every LARGER neighbor
      at m;
    - small-star: group by the larger endpoint of each edge and point
      it plus all its smaller neighbors at their collective min.

    Both steps strictly shrink path lengths toward the component
    minimum; the edge set converges to stars centered at each
    component's lexicographic-min title, after which
    ``component(v) = star center`` (centers and isolated pages label
    themselves).  The result is IDENTICAL to the hash-min fixpoint —
    same oracle — but the round count is ~log n instead of diameter.

    Scale notes: each round is two groupBy-min aggregations plus a
    distinct; edge rows only ever shrink (toward n − 1 star edges).
    Stop test, cheapest-first: a count mismatch (one scan of the
    truncated relation) proves change without any join; only when
    counts match does ONE anti-join run — equal counts plus empty
    (new \\ old) is a PROOF of set equality.  A non-empty edge set never
    rewrites to an empty one, so only an edgeless graph skips the loop.
    """
    # canonical undirected pairs (u < v) deduped DIRECTLY via
    # least/greatest — the old undirected_edges(...).where(src < dst)
    # shape deduped the full symmetric (2|E|) relation and then threw
    # half of it away; canonicalizing before the distinct halves the
    # dedup's shuffle input for the identical output set (guide §2.3:
    # shuffle fewer bytes).
    edges = truncate_lineage(_canonical_undirected(pages))
    n_edges = edges.count()
    edges, _ = iterate(
        edges,
        _star_round,
        rounds=max_rounds if n_edges else 0,
        stop=unchanged(
            lambda df: df.count(),
            n_edges,
            lambda old, new: new.join(old, ["u", "v"], "left_anti").isEmpty(),
        ),
    )
    # stars: every remaining edge is (center=u, member=v)
    titles = pages.select("title")
    return (
        titles.join(
            edges.select(F.col("v").alias("title"), F.col("u").alias("component")),
            "title",
            "left",
        )
        .select(
            "title",
            F.coalesce(F.col("component"), F.col("title")).alias("component"),
        )
    )


def degree_stats(pages: DataFrame) -> DataFrame:
    """(title, out_degree, in_degree): duplicate links count (same
    convention as the rank contributions, PageRankAlgorithm.java:
    336-340); in-degree counts only links from valid pages."""
    out_deg = pages.select(
        "title", F.size("links").cast("long").alias("out_degree")
    )
    in_deg = (
        edges(pages)
        .groupBy(F.col("dst").alias("title"))
        .agg(F.count("*").alias("in_degree"))
    )
    return (
        out_deg.join(in_deg, "title", "left")
        .select(
            "title",
            "out_degree",
            F.coalesce(F.col("in_degree"), F.lit(0)).cast("long").alias("in_degree"),
        )
    )


def triangle_count(pages: DataFrame) -> DataFrame:
    """One row (n_triangles, n_edges): triangle census over the
    undirected link graph.

    Degree-ordered orientation — each undirected edge {a, b} is kept
    once, pointing from the LOWER-degree endpoint to the higher
    (degree ties broken by title), then triangles are wedges
    u→v, u→w (v < w in the same order) closed by v→w.  Every triangle
    is counted exactly once, and the wedge fan-out per node is bounded
    by its ORIENTED out-degree ≤ O(√m) — the standard bound that keeps
    a hub with 10^6 neighbors from generating 10^12 wedge candidates
    at 100 TB (a plain a<b-ordering would leave high-degree-but-
    lexicographically-small hubs with huge fan-out).  Three shuffles
    total: degree agg, wedge self-join, closing-edge semi join.

    The count is orientation-independent, so the oracle uses the
    simple lexicographic a<b<c formulation — algorithm-independent
    truth, same pattern as cc_star vs the hash-min fixpoint.
    """
    und = undirected_edges(pages)  # distinct, both directions present
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    # orient: keep (a,b) iff (deg_a, a) < (deg_b, b)
    d1 = deg.select(F.col("src").alias("a"), F.col("deg").alias("da"))
    d2 = deg.select(F.col("src").alias("b"), F.col("deg").alias("db"))
    oriented = (
        und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(d1, "a")
        .join(d2, "b")
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
        .persist()
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.a") == F.col("e2.a"))
        .where(F.col("e1.b") < F.col("e2.b"))
        .select(F.col("e1.b").alias("v"), F.col("e2.b").alias("w"))
    )
    closed = wedges.join(
        oriented.select(F.col("a").alias("v"), F.col("b").alias("w")).unionAll(
            oriented.select(F.col("b").alias("v"), F.col("a").alias("w"))
        ),
        ["v", "w"],
        "left_semi",
    )
    return closed.agg(F.count("*").alias("n_triangles")).crossJoin(
        und.agg((F.count("*") / 2).cast("long").alias("n_edges"))
    )


HITS_ITERATIONS = 10


def valid_edges(pages: DataFrame) -> DataFrame:
    """Directed (src, dst) pairs whose TARGET is a valid page — the
    same phantom gate the rank join applies (F3,
    reference PageRankAlgorithm.java:102-114 drops targets that never
    emit a self record)."""
    e = edges(pages).select("src", "dst")
    valid = pages.select(F.col("title").alias("dst"))
    return e.join(valid, "dst").select("src", "dst")


def _hits_stage(
    pages: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Shared staging for HITS: (titles, e_src, e_dst, n) — the two
    persisted adjacency copies, one per pull join key, sized at the
    measured width (guide §2.2/§2.4; see the hits() docstring)."""
    with staged(pages) as (p, parts, n):
        e_src = valid_edges(p).repartition(parts, "src")
        titles, e_src, e_dst = cache(
            p.select("title").repartition(parts, "title"),
            e_src,
            e_src.repartition(parts, "dst"),
        )
    return titles, e_src, e_dst, n


def _hits_pull(
    e: DataFrame, scores: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Pull ``scores`` across edges from ``dst_col`` to ``src_col``
    (sparse: only nodes with at least one scored neighbor appear).
    ``e`` must be the edge cache partitioned on the JOIN key
    (``dst_col``) so the adjacency never re-shuffles.  Extracted so
    tools/dump_round_plans.py can capture the true per-iteration
    plan."""
    return (
        e.alias("e")
        .join(scores.alias("s"), F.col(f"e.{dst_col}") == F.col("s.title"))
        .groupBy(F.col(f"e.{src_col}").alias("title"))
        .agg(F.sum("s.score").alias("score"))
    )


def _l1(scores: DataFrame) -> DataFrame:
    """``scores`` L1-normalized by one driver norm scalar (unchanged
    when the total is 0)."""
    tot = scores.agg(F.sum("score")).first()[0]
    if not tot or tot <= 0.0:
        return scores
    return scores.select("title", (F.col("score") / F.lit(tot)).alias("score"))


def hits(
    pages: DataFrame,
    *,
    iterations: int = HITS_ITERATIONS,
) -> DataFrame:
    """(title, hub, authority): Kleinberg's HITS by mutual power
    iteration over the directed valid-edge graph, emitted L1-normalized
    (hubs sum to 1, authorities sum to 1; pages with no valid out/in
    links carry hub/authority 0).

    Not in the reference (its only graph metric is PageRank); this is
    the natural companion ranking for a link corpus.  Same scale
    skeleton as :func:`..pagerank.pagerank`: the static edge relation
    is hash-partitioned and persisted ONCE; each step shuffles only the
    small (title, score) relation into it and aggregates with map-side
    partials.

    Normalization exploits the scale-invariance of power iteration:
    only the AUTHORITY vector is L1-normalized per iteration (so
    magnitudes stay bounded — one unnormalized pull is bounded by the
    max degree); hubs are normalized once at the end.  That costs ONE
    driver norm scalar per iteration (the S5 global-counter channel,
    same as ``pagerank_until``'s convergence scalars — folding it back
    lazily would duplicate the subplan inside its own total and double
    the plan every round) instead of two, and intermediate rounds skip
    the dense left-join back to all titles: zero-score nodes contribute
    nothing to sums or pulls, so only the final output fills them in.

    L1 (sum) rather than L2 normalization keeps the per-round scalar a
    LINEAR reduction: cross-engine float summation noise stays ~1 ulp
    relative, which the e6 quantization nudge absorbs — an L2 sqrt on
    an order-dependent sum-of-squares would be harder to pin down.

    The loop is not scale.iterate's ``state → step(state)`` shape: the
    norm scalar rescales the TRUNCATED pull, and the final hub is the
    last iteration's intermediate pull, not its state.
    """
    # The hub pull joins scores on e.dst, the authority pull on e.src.
    # One cached copy keyed on src (the pre-r11 shape) forced the hub
    # pull to re-shuffle the FULL edge relation by dst every iteration
    # — the adjacency (the scale-dominating relation) through the
    # network ``iterations`` times.  Keep TWO persisted copies, one per
    # join key (guide §2.4: remove shuffles outright): 2× cache
    # footprint buys zero adjacency movement inside the loop; only the
    # small (title, score) relation moves per pull.
    titles, e_src, e_dst, n = _hits_stage(pages)

    auth = titles.select("title", F.lit(1.0 / n).alias("score"))
    hub_un, kept = auth, [None, None]
    for _ in range(iterations):
        hub_un = _hits_pull(e_dst, auth, "src", "dst")  # Σ_{v→u} auth(u)
        # per-iteration truncation, for the reason scale.iterate gives;
        # the norm action in _l1 runs its last stage
        pull = truncate_lineage(_hits_pull(e_src, hub_un, "dst", "src"))
        auth = _l1(pull)  # Σ_{v→u} hub(v)
        # a written reliable round supersedes the one before last: the
        # final hub reads the last-but-one round's files
        kept = [kept[1], _supersede(kept[0], pull)]
    hub = _l1(hub_un.persist())
    out = (
        titles.alias("t")
        .join(hub.select("title", F.col("score").alias("hub")), "title", "left")
        .join(
            auth.select("title", F.col("score").alias("authority")),
            "title",
            "left",
        )
        .select(
            "title",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
        )
    )
    return out


BFS_ITERATIONS = 8


def _relax_round(e: DataFrame, hop: Column, d: DataFrame) -> DataFrame:
    """ONE min-plus round over the state ``d`` = (carried keys..., title,
    value): every row relaxes across the cached adjacency (alias ``e``)
    to (..., e.dst, ``hop``), and the union with ``d`` min-merges per
    key.  ``hop`` is a column over aliases ``d``/``e`` (``d.depth + 1``,
    ``d.dist + e.w``).  Also called by tools/dump_round_plans.py."""
    *keys, value = d.columns
    expanded = (
        e.alias("e")
        .join(d.alias("d"), F.col("e.src") == F.col("d.title"))
        .select(
            *[F.col(f"d.{k}").alias(k) for k in keys if k != "title"],
            F.col("e.dst").alias("title"),
            hop.alias(value),
        )
    )
    return d.unionAll(expanded).groupBy(*keys).agg(F.min(value).alias(value))


def _relax(pages, sources, seed, hop, iterations, w=None):
    """The min-plus loop of :func:`bfs_depths`, :func:`sssp_dists` and
    :func:`bfs_depths_labeled`: the ``seed`` columns over the source
    titles start the state, which relaxes for ``iterations`` rounds
    through the valid-edge cache (with edge weight ``w`` when given).

    The state is eagerly truncated BEFORE the page cache is released:
    the seed leaf scans pages (a corpus re-parse once uncached).  A
    reliable session's rounds are already written eagerly.  The
    edge cache stays persisted DELIBERATELY: the cache manager dedups by
    logical plan, so every BFS op in the session (bfs_depths_frontier
    too) reuses one cached adjacency instead of rebuilding it per call —
    bounded at one edge relation per corpus."""
    with staged(pages) as (p, parts, _):
        e = valid_edges(p)
        if w is not None:
            e = e.select("src", "dst", w.alias("w"))
        (e,) = cache(e.repartition(parts, "src"))
        d = p.select("title").where(F.col("title").isin(*sources)).select(*seed)
        step = partial(_relax_round, e, hop)
        d, done = iterate(d, step, rounds=iterations)
        return d if done and reliable(d) else truncate_lineage(d, eager=True)


def bfs_depths(
    pages: DataFrame,
    sources: list[str],
    *,
    iterations: int = BFS_ITERATIONS,
) -> DataFrame:
    """(title, depth): minimum number of directed link hops from any
    page in ``sources``, for every page reachable within ``iterations``
    hops.  Unreached pages are absent from the result (not NULL-depth
    rows), so the output size is the reachable set, not |V|.

    Frontier-free formulation: each round the depth relation is
    min-merged with (neighbors of current depths)+1 — one join into the
    persisted adjacency + one min-groupBy per round, the same two-wide-
    op shape as hash-min components.  A frontier-only delta iteration
    sends less data per round once depths stabilize, but needs a
    changed-rows anti-join per round (a third wide op) — at a fixed
    small hop budget the dense form wins; swap in the delta form for
    diameter-scale traversals.

    Fixed ``iterations`` (like the reference's fixed 10 rank rounds)
    keeps the op deterministic and lets the oracle unroll the identical
    recurrence; depths only need k rounds to be exact for all nodes
    within k hops.
    """
    if not sources:
        raise ValueError("bfs_depths needs a non-empty source set")
    depth = F.lit(0).cast("long").alias("depth")
    return _relax(
        pages, sources, ["title", depth], F.col("d.depth") + 1, iterations
    )


def bfs_depths_frontier(
    pages: DataFrame,
    sources: list[str],
    *,
    max_iterations: int = 64,
) -> DataFrame:
    """(title, depth): the frontier-delta BFS — the diameter-scale
    alternative :func:`bfs_depths` documents.  Each round expands ONLY
    the rows discovered last round (the frontier), anti-joins away
    already-settled titles, and stops when the frontier is empty.

    Trade-off vs the dense form: per round the join input is the
    frontier (which shrinks to zero), not the whole depth relation,
    at the cost of one extra wide op (the settled anti-join) and a
    driver count per round (the S5 stop-rule channel, same as
    pagerank_until).  On a diameter-D graph this does D rounds of
    frontier-sized work instead of k rounds of reachable-set-sized
    work — the right shape when D is large and the budget form's fixed
    k would either truncate or overpay.

    BFS invariant (first discovery = minimum depth) makes the
    anti-join sufficient: a title reached again later can never
    improve, so settled rows are final — no min-merge needed.
    """
    if not sources:
        raise ValueError("bfs_depths_frontier needs a non-empty source set")
    with staged(pages) as (p, parts, _):
        (e,) = cache(valid_edges(p).repartition(parts, "src"))
        frontier = truncate_lineage(
            p.select("title")
            .where(F.col("title").isin(*sources))
            .select("title", F.lit(0).cast("long").alias("depth")),
            eager=True,
        )
    # settled = union of per-depth frontier parts, each part an
    # eagerly-localCheckpoint'd O(1)-plan leaf.  Checkpointing the
    # FRONTIER (small, shrinking) instead of the whole settled union
    # avoids rewriting the full settled set every round — that was
    # O(rounds x |settled|), the reference's 13-HDFS-materializations
    # anti-pattern (SURVEY §2 S3) reborn.  The checkpoint is load-
    # bearing for the PLAN, not just the data: each next frontier's
    # plan embeds the previous frontier's AND the settled union's, so
    # without per-part truncation the logical plan doubles per round
    # (a 2 GB plan string + analyzer OOM by round 8 at sf0.1 — same
    # hazard the g11 k-core notes document).  With it, round d's plan
    # is a join against one leaf plus an anti-join against d leaves:
    # linear, bounded.  The loop is not scale.iterate's shape: the
    # round number is a column, the settled union grows beside the
    # state, and an empty frontier is not part of the result.
    settled = frontier
    depth = 0
    while depth < max_iterations:
        depth += 1
        nxt = (
            e.alias("e")
            .join(frontier.alias("f"), F.col("e.src") == F.col("f.title"))
            .select(F.col("e.dst").alias("title"))
            .distinct()
            .join(settled.select("title"), "title", "left_anti")
            .select("title", F.lit(depth).cast("long").alias("depth"))
        )
        nxt = truncate_lineage(nxt, eager=True)
        if nxt.count() == 0:  # S5 stop rule: frontier exhausted
            break
        settled = settled.unionAll(nxt)
        frontier = nxt
    # deliberately NOT e.unpersist(): valid_edges is the plan-deduped
    # adjacency cache shared with bfs_depths / bfs_depths_labeled /
    # sssp_dists in the same session — evicting it here would silently
    # re-pay the edge derivation under the sibling graph ops
    # the returned union reads the checkpointed frontier blocks
    # directly; they are freed with the RDDs when the frame is dropped
    return settled


KCORE_K = 2
KCORE_ROUNDS = 6


def _peel(pages, k, rounds, until):
    """The k-core peel loop of :func:`kcore_survivors` (a fixed budget
    of ``rounds``) and :func:`kcore_until` (``until``: stop at the
    first round without removals, up to ``rounds``).

    Per round: two semi-joins restrict the survivor edge relation to
    survivors on both endpoints, and one degree aggregate + filter
    yields the next survivors.  The restricted edge relation is eagerly
    truncated and REPLACES the edge relation: it is referenced by both
    next round's semi-joins AND the degree aggregate, and it strictly
    shrinks — on power-law graphs most peeling happens up front, so
    later rounds scan a fraction of the original edges.  Its reliable
    checkpoint supersedes the previous round's, like the state's."""
    with staged(pages) as (p, parts, _):
        (sym,) = cache(undirected_edges(p, key="src", num_partitions=parts))
    alive = [sym, None]  # survivor edges, their checkpoint file

    def peel(nodes: DataFrame) -> DataFrame:
        e = truncate_lineage(
            alive[0]
            .join(nodes.select(F.col("title").alias("src")), "src", "left_semi")
            .join(nodes.select(F.col("title").alias("dst")), "dst", "left_semi"),
            eager=True,
        )
        # the staged cache after round 1; a no-op on checkpoint frames
        alive[0].unpersist()
        alive[:] = [e, _supersede(alive[1], e)]
        return (
            e.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("src").alias("title"))
        )

    nodes = sym.select(F.col("src").alias("title")).distinct()
    stop = None
    if until:
        # survivor counts strictly decrease until the fixpoint, so one
        # driver count per round doubles as the stop test
        nodes = nodes.persist()
        stop = unchanged(lambda df: df.count(), nodes.count())
    out, _ = iterate(nodes, peel, rounds=rounds, stop=stop)
    nodes.unpersist()
    return out


def kcore_survivors(
    pages: DataFrame,
    *,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """(title,): nodes surviving ``rounds`` of k-core peeling on the
    undirected link graph — each round removes every node whose degree
    among CURRENT survivors is < k.  After enough rounds this is the
    k-core (the maximal subgraph of min-degree >= k); fixed ``rounds``
    keeps the op deterministic and the oracle unrollable (the peeling
    sequence is integer-only: no float risk anywhere).  Per-round shape:
    :func:`_peel`."""
    return _peel(pages, k, rounds, until=False)


KCORE_MAX_ROUNDS = 50  # convergence-loop safety cap


def kcore_until(
    pages: DataFrame,
    *,
    k: int = KCORE_K,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> DataFrame:
    """(title,): the TRUE k-core — peel to the fixpoint with a
    zero-removals stop rule instead of :func:`kcore_survivors`' fixed
    budget (the same fixed→converged upgrade as
    ``connected_components_until``).  Peeling is idempotent past the
    fixpoint, which is what lets the oracle use a fixed upper-bound
    unroll."""
    return _peel(pages, k, max_rounds, until=True)


def kcore_sql(pages_ctes: str, sym_cte: str, k: int = KCORE_K,
              rounds: int = KCORE_ROUNDS) -> str:
    """DuckDB twin: the peeling recurrence unrolled over the symmetric
    edge CTE (``sym_cte`` must define ``sym(src, dst)``)."""
    ctes = ["n0 AS MATERIALIZED (SELECT DISTINCT src AS title FROM sym)"]
    for r in range(1, rounds + 1):
        ctes.append(f"""n{r} AS MATERIALIZED (
  SELECT src AS title FROM sym
  WHERE src IN (SELECT title FROM n{r - 1})
    AND dst IN (SELECT title FROM n{r - 1})
  GROUP BY src HAVING COUNT(*) >= {k}
)""")
    body = ",\n".join(ctes)
    return f"""WITH {pages_ctes},
{sym_cte},
{body}
SELECT title FROM n{rounds}"""


LPA_ROUNDS = 5


def _lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE synchronous plurality round: labels pulled across the cached
    symmetric adjacency, counted per (node, label), argmax by
    MIN(struct(-count, label)), merged into the current labels."""
    best = (
        sym.alias("e")
        .join(labels.alias("l"), F.col("e.dst") == F.col("l.title"))
        .groupBy(F.col("e.src").alias("title"), F.col("l.label"))
        .agg(F.count("*").alias("c"))
        .groupBy("title")
        .agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("label"))
            )["label"].alias("new_label")
        )
    )
    return (
        labels.alias("l")
        .join(best.alias("b"), "title", "left")
        .select(
            "title",
            F.coalesce(F.col("b.new_label"), F.col("l.label")).alias("label"),
        )
    )


def label_propagation(
    pages: DataFrame,
    *,
    rounds: int = LPA_ROUNDS,
) -> DataFrame:
    """(title, community): synchronous label propagation over the
    undirected valid-edge graph — each round every node adopts its
    neighbors' PLURALITY label (ties broken by smallest label); nodes
    with no valid edges keep their own title as label.

    Fully deterministic (plurality + min tiebreak, synchronous
    updates), so the DuckDB oracle replays the identical trajectory —
    including the oscillations classic sync LPA exhibits on bipartite
    structures, which fixed rounds make reproducible rather than
    data-race-y.

    Scale shape: per round, one join of the (title, label) relation
    into the cached symmetric adjacency + one count aggregate + one
    min-struct argmax (no per-node sort window: argmax(count, min
    label) = MIN over struct(-count, label)) + the singleton left
    join.  The adjacency never re-shuffles; only labels move.
    """
    titles, sym = _cc_stage(pages, key="dst")
    labels = titles.select("title", F.col("title").alias("label"))
    step = partial(_lpa_round, sym)
    labels = iterate(labels, step, rounds=rounds)[0]
    return labels.select("title", F.col("label").alias("community"))


def label_propagation_sql(
    pages_ctes: str, sym_cte: str, rounds: int = LPA_ROUNDS
) -> str:
    """DuckDB twin: the plurality-min recurrence unrolled over the
    symmetric edge CTE (``sym_cte`` must define ``sym(src, dst)``)."""
    ctes = [
        "l0 AS MATERIALIZED (SELECT title, title AS label FROM pages)"
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""l{r} AS MATERIALIZED (
  SELECT p.title, COALESCE(b.label, p.label) AS label
  FROM l{r - 1} p LEFT JOIN (
    SELECT title, label FROM (
      SELECT e.src AS title, x.label,
             row_number() OVER (
               PARTITION BY e.src
               ORDER BY COUNT(*) DESC, x.label
             ) AS rn
      FROM sym e JOIN l{r - 1} x ON x.title = e.dst
      GROUP BY e.src, x.label
    ) WHERE rn = 1
  ) b USING (title)
)""")
    body = ",\n".join(ctes)
    return f"""WITH {pages_ctes},
{sym_cte},
{body}
SELECT title, label AS community FROM l{rounds}"""


# --------------------------------------------------------------------------
# Weighted single-source(-set) shortest paths: the min-plus semiring
# generalization of bfs_depths — per round, distances relax through
# the persisted adjacency (dist + edge weight) and min-merge.  Edge
# weights are a deterministic integer function of the target title
# (the testdata graph carries no weight column), so both engines and
# the unrolled oracle derive the identical weighted graph.
# --------------------------------------------------------------------------

SSSP_ITERATIONS = 8


def edge_weight(dst) -> F.Column:
    """Deterministic integer weight in 1..5 derived from the target."""
    return (F.length(dst) % 5 + 1).cast("long")


def sssp_dists(
    pages: DataFrame,
    sources: list[str],
    *,
    iterations: int = SSSP_ITERATIONS,
) -> DataFrame:
    """(title, dist): minimum weighted distance from any source within
    ``iterations`` relaxation rounds (Bellman-Ford on the min-plus
    semiring; exact for all paths of <= ``iterations`` edges).
    Unreached pages are absent, so the output is the reachable set.

    Same two-wide-op round shape as bfs_depths: one join into the
    persisted edge relation + one min-groupBy; only the (title, dist)
    relation moves between rounds.
    """
    if not sources:
        raise ValueError("sssp_dists needs a non-empty source set")
    dist = F.lit(0).cast("long").alias("dist")
    return _relax(
        pages, sources, ["title", dist], F.col("d.dist") + F.col("e.w"),
        iterations, w=edge_weight(F.col("dst")),
    )


def bfs_depths_labeled(
    pages: DataFrame,
    sources: list[str],
    *,
    iterations: int = 8,
) -> DataFrame:
    """(seed, title, depth): per-SEED minimum hop counts — k
    independent BFS traversals in ONE loop, the state keyed by
    (seed, title).  Same two-wide-op round shape as :func:`bfs_depths`
    (join into the cached adjacency + min-merge groupBy); the state
    relation is at most k × reachable-set rows and the adjacency is
    scanned once per round regardless of k — running k separate BFS
    loops would scan it k times per round.

    The landmark-centrality building block: exact closeness needs a
    BFS per node (quadratic — unusable), so the standard scale
    technique fixes k landmark sources and scores every node from its
    depths to those k (Potamias et al.'s landmark method)."""
    if not sources:
        raise ValueError("bfs_depths_labeled needs a non-empty source set")
    depth = F.lit(0).cast("long").alias("depth")
    return _relax(
        pages, sources, [F.col("title").alias("seed"), "title", depth],
        F.col("d.depth") + 1, iterations,
    )


def landmark_closeness(
    pages: DataFrame,
    sources: list[str],
    *,
    iterations: int = 8,
) -> DataFrame:
    """(title, n_seen, total_depth, closeness_e6) for every node some
    landmark reaches in 1..``iterations`` hops: closeness approximated
    as n_seen / sum(landmark depths) — reporting n_seen alongside
    keeps partially-covered nodes honest (one nearby landmark does not
    fake global centrality; consumers filter on coverage).  Self rows
    (a landmark at depth 0 from itself) are excluded, the standard
    closeness convention — which also makes total_depth > 0 wherever a
    row exists.  The division is one small-int-over-int-sum IEEE op,
    identical cross-engine."""
    d = bfs_depths_labeled(pages, sources, iterations=iterations)
    return (
        d.where(F.col("depth") > 0)
        .groupBy("title")
        .agg(
            F.count("*").alias("n_seen"),
            F.sum("depth").alias("total_depth"),
        )
        .select(
            "title",
            "n_seen",
            "total_depth",
            F.floor(
                F.col("n_seen").cast("double")
                / F.col("total_depth").cast("double")
                * 1e6
                + F.lit(0.5000001)
            )
            .cast("long")
            .alias("closeness_e6"),
        )
    )


# ---------------------------------------------------------------------------
# k-truss (g13): edges supported by enough triangles.  Community-core
# extraction one notch stronger than k-core — every surviving edge
# must sit in >= k-2 triangles AMONG SURVIVING EDGES, so peeling
# removes bridge/noise edges that k-core keeps.
# ---------------------------------------------------------------------------

TRUSS_K = 4
TRUSS_ROUNDS = 2
COCITE_MAX_INDEG = 32


def cocitation_edges(
    pages: DataFrame,
    *,
    max_indeg: int = COCITE_MAX_INDEG,
) -> DataFrame:
    """Canonical (a, b) co-citation edges: two pages are linked iff
    they cite a common target.  The per-target pair fan-out is
    indeg², so popular targets are CAPPED (indeg <= ``max_indeg``)
    before the pair join — the same rare-key blocking idea as x63's
    df-capped shingles; a hub cited by 10^6 pages generates no pairs
    instead of 10^12.  The raw link graph is triangle-free by
    construction on the synthetic corpus; co-citation cliques are
    where triangle structure actually lives."""
    # Stage the corpus parse ONCE (the indeg agg and both sides of the
    # pair self-join would otherwise each re-parse the corpus), and
    # hash-partition the staged edge cache on DST at the MEASURED
    # width (guide §2.2/§2.4): every downstream wide op here is
    # dst-keyed — the indeg aggregate, the cap join, AND the pair
    # self-join — so one keyed exchange at staging makes all three
    # co-partitioned (no further exchange of the edge relation), and
    # the width is n/16k rows rather than the conf constant that made
    # 32 cores a net loss on this family (r11 scaling block: g13/g14/
    # g17 at sec@8/sec@32 = 0.44-0.59).
    with staged(pages) as (p, parts, _):
        (e,) = cache(edges(p).select("src", "dst").repartition(parts, "dst"))
    ind = e.groupBy("dst").agg(F.count("*").alias("indeg"))
    capped = e.join(
        ind.where(F.col("indeg") <= max_indeg).select("dst"), "dst"
    )
    out = (
        capped.alias("e1")
        .join(
            capped.alias("e2"),
            (F.col("e1.dst") == F.col("e2.dst"))
            & (F.col("e1.src") < F.col("e2.src")),
        )
        .select(F.col("e1.src").alias("a"), F.col("e2.src").alias("b"))
        .distinct()
    )
    # pin the pair relation so the staging cache can be freed now; the
    # blocks die with the returned frame
    out = truncate_lineage(out, eager=True)
    e.unpersist()
    return out


def _truss_round(
    e: DataFrame, k: int, parts: int
) -> tuple[DataFrame, DataFrame]:
    """ONE k-truss peel round over the current survivor relation
    ``e``: degree-ordered triangle enumeration, per-edge support
    credit, peel below k-2.  Returns (peeled, oriented_cache) — the
    caller truncates the peeled relation and unpersists the oriented
    cache once it is materialized.  Extracted so
    tools/dump_round_plans.py can capture the true per-round plan."""
    sym = e.select("a", "b").unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    d1 = deg.select(F.col("a").alias("u"), F.col("deg").alias("du"))
    d2 = deg.select(F.col("a").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        sym.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .join(d1, "u")
        .join(d2, "v")
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
        # measured width keyed on the wedge join's own key: the
        # self-join below reads both sides co-partitioned (guide §2.4)
        .repartition(parts, "u")
        .persist()
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .where(F.col("e1.v") < F.col("e2.v"))
        .select(
            F.col("e1.u").alias("tu"),
            F.col("e1.v").alias("tv"),
            F.col("e2.v").alias("tw"),
        )
    )
    tri = wedges.join(
        sym.select(F.col("a").alias("tv"), F.col("b").alias("tw")),
        ["tv", "tw"],
    )
    pair = lambda x, y: F.struct(  # noqa: E731
        F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
    )
    sup = (
        tri.select(
            F.explode(
                F.array(
                    pair(F.col("tu"), F.col("tv")),
                    pair(F.col("tu"), F.col("tw")),
                    pair(F.col("tv"), F.col("tw")),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
    )
    peeled = (
        e.select("a", "b")
        .join(sup, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
        .where(F.col("support") >= k - 2)
    )
    return peeled, oriented


def truss_edges(
    edges_ab: DataFrame,
    *,
    k: int = TRUSS_K,
    rounds: int = TRUSS_ROUNDS,
) -> DataFrame:
    """(a, b, support): canonical (a < b) undirected edges surviving
    ``rounds`` of k-truss peeling, with their last-evaluated triangle
    support.  Fixed rounds keeps the op deterministic and the oracle
    unrollable (the kcore/g6 pattern).

    Per round, triangles among CURRENT survivors are enumerated with
    the degree-ordered orientation (wedge fan-out bounded by oriented
    out-degree ~ O(sqrt(m)) — same hub-safety argument as
    :func:`triangle_count`; the oracle replays the lexicographic
    formulation, algorithm-independent truth), each triangle credits
    its three canonical edges, and edges below k-2 support are peeled.
    """
    # measured-size width for the per-round caches (guide §2.2): the
    # wedge self-join reads `oriented` keyed on its own join key, so
    # partitioning the persisted copy by u at n/16k width makes the
    # heaviest join of every round exchange-free AND stops the round
    # stages paying conf-width scheduling on a few-thousand-row
    # relation (r11 scaling block: g13 ran 2x FASTER on 8 cores)
    held: list[DataFrame] = []

    def peel(e: DataFrame) -> DataFrame:
        # the previous round's oriented cache: its peel is materialized
        for df in held:
            df.unpersist()
        peeled, oriented = _truss_round(e, k, parts)
        held[:] = [oriented]
        return peeled

    with staged(edges_ab.select("a", "b")) as (e, parts, _):
        # eager: one materialization job per round, as persist+count
        # would pay, and the round's oriented cache can go
        out, _ = iterate(e, peel, rounds=rounds, eager=True)
    for df in held:
        df.unpersist()
    return out.select("a", "b", "support")


def truss_edges_sql(
    pages_ctes: str,
    k: int = TRUSS_K,
    rounds: int = TRUSS_ROUNDS,
    max_indeg: int = COCITE_MAX_INDEG,
) -> str:
    """DuckDB twin: indeg-capped co-citation edges + lexicographic
    triangle enumeration (a<b<c — every edge of such a triangle is
    already canonical), unrolled peeling."""
    ctes = [
        f"""ind AS (SELECT dst, COUNT(*) AS indeg FROM edges GROUP BY dst),
capped AS (
  SELECT e.src, e.dst FROM edges e
  JOIN ind ON ind.dst = e.dst AND ind.indeg <= {max_indeg}
),
e0 AS MATERIALIZED (
  SELECT DISTINCT e1.src AS a, e2.src AS b
  FROM capped e1 JOIN capped e2
    ON e1.dst = e2.dst AND e1.src < e2.src
)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""tri{r} AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e{r} e1
  JOIN e{r} e2 ON e2.a = e1.b
  JOIN e{r} e3 ON e3.a = e1.a AND e3.b = e2.b
),
sup{r} AS MATERIALIZED (
  SELECT a, b, COUNT(*) AS support FROM (
    SELECT x AS a, y AS b FROM tri{r}
    UNION ALL SELECT y AS a, z AS b FROM tri{r}
    UNION ALL SELECT x AS a, z AS b FROM tri{r})
  GROUP BY a, b
),
e{r + 1} AS MATERIALIZED (
  SELECT e.a, e.b, CAST(COALESCE(s.support, 0) AS BIGINT) AS support
  FROM e{r} e LEFT JOIN sup{r} s ON e.a = s.a AND e.b = s.b
  WHERE COALESCE(s.support, 0) >= {k - 2}
)"""
        )
    return (
        f"WITH {pages_ctes},\n"
        + ",\n".join(ctes)
        + f"\nSELECT a, b, support FROM e{rounds}"
    )


# --------------------------------------------------------------------------
# Adamic-Adar link prediction (g14): score unlinked page pairs by
# their shared neighborhoods, term 1/ln(deg(z)) per common neighbor z
# (Adamic & Adar 2003) — the classic "pages that OUGHT to link"
# shortlist.  Scale shape: the pair relation is generated by a
# z-keyed self-join of capped neighbor lists — a node of degree d
# emits d² pairs, so hubs (deg > max_deg) are excluded as common
# neighbors (they carry ~no AA weight anyway: 1/ln(10^6) ≈ 0.07) —
# the same hub-block as cocitation_edges' indeg cap.  Per-z terms are
# quantized to e9 integers up front and summed exactly, so both
# engines agree bit-for-bit regardless of aggregation order.
# --------------------------------------------------------------------------

AA_MAX_DEG = 64  # common-neighbor fan-out cap (pairs per z <= cap²)
AA_MIN_COMMON = 2  # shortlist: >= 2 shared neighbors


def adamic_adar(
    pages: DataFrame,
    max_deg: int = AA_MAX_DEG,
    min_common: int = AA_MIN_COMMON,
) -> DataFrame:
    """(a, b, n_common, aa_e9) for UNLINKED undirected pairs a < b
    with >= ``min_common`` shared neighbors of degree in
    [2, ``max_deg``]; aa_e9 = Σ_z floor(1e9/ln(deg z) + 0.5000001)."""
    # Stage the symmetric relation keyed on SRC at the measured width
    # (guide §2.2/§2.4 — the cc/LPA C1+C2 discipline): the degree
    # aggregate, the term attach, and the z-keyed pair self-join are
    # all src/z-keyed, so the single keyed exchange inside
    # undirected_edges co-partitions every wide op but the final
    # (a, b) aggregate + anti join.  Before, this operator ran at the
    # conf width on a few-thousand-row relation (r11 scaling block:
    # g14 sec@8/sec@32 = 0.59 — 32 cores were a net loss).
    with staged(pages) as (p, parts, _):
        # stage once: degrees, both join sides, the anti join
        (und,) = cache(undirected_edges(p, key="src", num_partitions=parts))
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    term = deg.where(
        (F.col("deg") >= 2) & (F.col("deg") <= max_deg)
    ).select(
        F.col("src").alias("z"),
        F.floor(
            F.lit(1e9) / F.log(F.col("deg").cast("double"))
            + F.lit(0.5000001)
        )
        .cast("long")
        .alias("term_e9"),
    )
    nbr = und.select(F.col("src").alias("z"), F.col("dst").alias("u")).join(
        term, "z"
    )
    pairs = (
        nbr.alias("n1")
        .join(
            nbr.alias("n2"),
            (F.col("n1.z") == F.col("n2.z"))
            & (F.col("n1.u") < F.col("n2.u")),
        )
        .select(
            F.col("n1.u").alias("a"),
            F.col("n2.u").alias("b"),
            F.col("n1.term_e9").alias("term_e9"),
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_common"),
            F.sum("term_e9").alias("aa_e9"),
        )
        .where(F.col("n_common") >= min_common)
    )
    out = truncate_lineage(
        pairs.join(
            und.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"],
            "left_anti",  # predicted links only — drop existing edges
        ),
        eager=True,  # pin before freeing the staging cache
    )
    und.unpersist()
    return out


def adamic_adar_sql(
    pages_ctes: str,
    sym_cte: str,
    max_deg: int = AA_MAX_DEG,
    min_common: int = AA_MIN_COMMON,
) -> str:
    """DuckDB twin: same capped z-keyed pair generation over the
    symmetric edge relation; e9 integer terms summed exactly."""
    return f"""WITH {pages_ctes},
{sym_cte},
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
term AS (
  SELECT src AS z,
         CAST(FLOOR(1e9 / LN(CAST(deg AS DOUBLE)) + 0.5000001) AS BIGINT)
           AS term_e9
  FROM deg WHERE deg BETWEEN 2 AND {max_deg}
),
nbr AS (
  SELECT s.src AS z, s.dst AS u, t.term_e9
  FROM sym s JOIN term t ON t.z = s.src
),
pairs AS (
  SELECT n1.u AS a, n2.u AS b, COUNT(*) AS n_common,
         CAST(SUM(n1.term_e9) AS BIGINT) AS aa_e9
  FROM nbr n1 JOIN nbr n2 ON n1.z = n2.z AND n1.u < n2.u
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_common}
)
SELECT a, b, n_common, aa_e9 FROM pairs
WHERE NOT EXISTS (SELECT 1 FROM sym WHERE sym.src = pairs.a AND sym.dst = pairs.b)"""


# --------------------------------------------------------------------------
# Local clustering coefficient (g15): per-node triangle density over
# the co-citation graph, lcc = 2T / (deg * (deg-1)) — the community-
# tightness profile g3's global census can't see.  The pair relation
# is the indeg-capped co-citation graph (cocitation_edges stages and
# pins it once), so hub fan-out is blocked BEFORE triangle
# enumeration; triangles enumerate lexicographically over the
# canonical a<b relation (every edge of an a<b<c triangle is already
# canonical — the g13 oracle's formulation), and each triangle
# credits its three corners via one union+count, not three joins.
# --------------------------------------------------------------------------


def local_clustering(
    pages: DataFrame,
    max_indeg: int = COCITE_MAX_INDEG,
) -> DataFrame:
    """(title, deg, n_tri, lcc_e6) for co-citation nodes with deg >= 2
    (deg < 2 has no defined coefficient)."""
    # canonical a<b, pinned
    e = cocitation_edges(pages, max_indeg=max_indeg)
    both = e.select(F.col("a").alias("t")).unionAll(
        e.select(F.col("b").alias("t"))
    )
    deg = both.groupBy("t").agg(F.count("*").alias("deg"))
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    credits = (
        tri.select(F.col("x").alias("t"))
        .unionAll(tri.select(F.col("y").alias("t")))
        .unionAll(tri.select(F.col("z").alias("t")))
    )
    tc = credits.groupBy("t").agg(F.count("*").alias("n_tri"))
    nt = F.coalesce("n_tri", F.lit(0))
    return (
        deg.join(tc, "t", "left")
        .where(F.col("deg") >= 2)
        .select(
            F.col("t").alias("title"),
            "deg",
            nt.alias("n_tri"),
            F.floor(
                F.lit(2.0)
                * nt
                / (F.col("deg") * (F.col("deg") - 1))
                * 1e6
                + F.lit(0.5000001)
            )
            .cast("long")
            .alias("lcc_e6"),
        )
    )


def local_clustering_sql(
    pages_ctes: str, max_indeg: int = COCITE_MAX_INDEG
) -> str:
    """DuckDB twin: identical capped co-citation relation and
    lexicographic triangle credit."""
    return f"""WITH {pages_ctes},
ind AS (SELECT dst, COUNT(*) AS indeg FROM edges GROUP BY dst),
capped AS (
  SELECT e.src, e.dst FROM edges e
  JOIN ind ON ind.dst = e.dst AND ind.indeg <= {max_indeg}
),
e0 AS MATERIALIZED (
  SELECT DISTINCT e1.src AS a, e2.src AS b
  FROM capped e1 JOIN capped e2
    ON e1.dst = e2.dst AND e1.src < e2.src
),
deg AS (
  SELECT t, COUNT(*) AS deg FROM (
    SELECT a AS t FROM e0 UNION ALL SELECT b AS t FROM e0)
  GROUP BY t
),
tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e0 e1
  JOIN e0 e2 ON e2.a = e1.b
  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
),
tc AS (
  SELECT t, COUNT(*) AS n_tri FROM (
    SELECT x AS t FROM tri UNION ALL SELECT y AS t FROM tri
    UNION ALL SELECT z AS t FROM tri)
  GROUP BY t
)
SELECT d.t AS title, d.deg,
       CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(FLOOR(2.0 * COALESCE(tc.n_tri, 0) / (d.deg * (d.deg - 1)) * 1e6
                  + 0.5000001) AS BIGINT) AS lcc_e6
FROM deg d LEFT JOIN tc ON tc.t = d.t
WHERE d.deg >= 2"""


# --------------------------------------------------------------------------
# Degree assortativity (g16): Newman's r — the Pearson correlation of
# endpoint degrees over the symmetric edge relation (each undirected
# edge contributes both orientations, the standard convention, so the
# x/y marginals coincide).  Degrees are exact integers, so the five
# sufficient statistics are exact decimal(38) sums: ONE degree
# aggregate, two edge-keyed joins onto the edge relation, one global
# aggregate — no per-pair window, no driver loop, nothing quadratic.
# At 100 TB this is two shuffles of the edge relation and a scalar.
# --------------------------------------------------------------------------


def degree_assortativity(pages: DataFrame) -> DataFrame:
    """One row (n_nodes, n_sym_edges, assortativity_e6).  r > 0: hubs
    link hubs (social-graph shape); r < 0: hubs link leaves
    (web/biology shape) — the mixing diagnostic for sampling bias in a
    crawled link graph."""
    und = undirected_edges(pages)
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    e = (
        und.join(deg, "src")
        .withColumnRenamed("deg", "dx")
        .join(
            deg.withColumnRenamed("src", "dst").withColumnRenamed(
                "deg", "dy"
            ),
            "dst",
        )
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sums = e.agg(
        F.count("*").cast("decimal(38,0)").alias("m"),
        F.sum(d38(F.col("dx"))).alias("sx"),
        F.sum(d38(F.col("dx") * F.col("dy"))).alias("sxy"),
        F.sum(d38(F.col("dx") * F.col("dx"))).alias("sxx"),
    )
    nn = deg.agg(F.count("*").alias("n_nodes"))
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return nn.crossJoin(sums).select(
        "n_nodes",
        F.col("m").cast("long").alias("n_sym_edges"),
        F.when(den == 0, F.lit(0))
        .otherwise(
            F.floor(num / den * 1e6 + F.lit(0.5000001)).cast("long")
        )
        .alias("assortativity_e6"),
    )


def degree_assortativity_sql(pages_ctes: str, sym_cte: str) -> str:
    """DuckDB twin: identical integer sufficient statistics (HUGEINT)
    divided once at the end."""
    return f"""WITH {pages_ctes},
{sym_cte},
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
e AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM sym s JOIN deg dx ON dx.src = s.src JOIN deg dy ON dy.src = s.dst
),
sums AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
         CAST(SUM(dx) AS HUGEINT) AS sx,
         CAST(SUM(dx * dy) AS HUGEINT) AS sxy,
         CAST(SUM(dx * dx) AS HUGEINT) AS sxx
  FROM e
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       CAST(m AS BIGINT) AS n_sym_edges,
       CASE WHEN m * sxx - sx * sx = 0 THEN 0
            ELSE CAST(FLOOR(CAST(m * sxy - sx * sx AS DOUBLE)
                            / CAST(m * sxx - sx * sx AS DOUBLE)
                            * 1e6 + 0.5000001) AS BIGINT) END
         AS assortativity_e6
FROM sums"""


# --------------------------------------------------------------------------
# Local bridges (g17) — Granovetter's weak ties: a co-citation edge in
# NO triangle (its endpoints share no common neighbor), so removing it
# raises the endpoint distance to >= 3.  Local bridges are the edges
# that connect communities — the curation signal for "this link is the
# only path between two content clusters" (dedup clusters / topic
# islands stay separate without them).
#
# Scale shape: rides the indeg-capped co-citation relation staged once
# (hub fan-out blocked BEFORE pair enumeration, the g13/g15
# discipline); triangle edges via the same lexicographic 3-join as
# g15, then ONE anti join — the bridge set is edges minus
# triangle-edges, never a per-edge neighborhood intersection.
# --------------------------------------------------------------------------


def local_bridges(
    pages: DataFrame,
    max_indeg: int = COCITE_MAX_INDEG,
) -> DataFrame:
    """(a, b, deg_a, deg_b): canonical (a < b) co-citation edges in no
    triangle, with endpoint degrees (a local bridge with deg 1 on
    either side is a pendant, not a community connector — callers
    filter on the degrees)."""
    # canonical a<b, pinned
    e = cocitation_edges(pages, max_indeg=max_indeg)
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tri_edges = (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
        .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
        .distinct()
    )
    both = e.select(F.col("a").alias("t")).unionAll(
        e.select(F.col("b").alias("t"))
    )
    deg = both.groupBy("t").agg(F.count("*").alias("deg"))
    bridges = e.join(tri_edges, ["a", "b"], "left_anti")
    return (
        bridges.join(deg.select(F.col("t").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("t").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select("a", "b", "deg_a", "deg_b")
    )


def local_bridges_sql(
    pages_ctes: str, max_indeg: int = COCITE_MAX_INDEG
) -> str:
    """DuckDB twin: identical capped co-citation relation, triangle
    edges, anti join, degrees."""
    return f"""WITH {pages_ctes},
ind AS (SELECT dst, COUNT(*) AS indeg FROM edges GROUP BY dst),
capped AS (
  SELECT e.src, e.dst FROM edges e
  JOIN ind ON ind.dst = e.dst AND ind.indeg <= {max_indeg}
),
e0 AS MATERIALIZED (
  SELECT DISTINCT e1.src AS a, e2.src AS b
  FROM capped e1 JOIN capped e2
    ON e1.dst = e2.dst AND e1.src < e2.src
),
tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e0 e1
  JOIN e0 e2 ON e2.a = e1.b
  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri_edges AS (
  SELECT DISTINCT a, b FROM (
    SELECT x AS a, y AS b FROM tri
    UNION ALL SELECT y AS a, z AS b FROM tri
    UNION ALL SELECT x AS a, z AS b FROM tri)
),
deg AS (
  SELECT t, COUNT(*) AS deg FROM (
    SELECT a AS t FROM e0 UNION ALL SELECT b AS t FROM e0)
  GROUP BY t
)
SELECT e.a, e.b,
       CAST(da.deg AS BIGINT) AS deg_a,
       CAST(db.deg AS BIGINT) AS deg_b
FROM e0 e
LEFT JOIN tri_edges te ON te.a = e.a AND te.b = e.b
JOIN deg da ON da.t = e.a
JOIN deg db ON db.t = e.b
WHERE te.a IS NULL"""
