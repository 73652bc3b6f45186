"""Skew and co-location utilities for the 100 TB path.

The engine's default posture is AQE (enabled in ``session.get_spark``:
runtime partition coalescing + automatic skew-join splitting).  These
helpers cover the two cases AQE can't fix by itself:

- **aggregation skew**: one hot key funnels into one reducer task.
  :func:`salted_agg` does groupBy(key, salt) → groupBy(key), spreading
  the hot key over ``n_salts`` tasks; works for any algebraic
  (re-aggregatable) aggregate.
- **join co-location**: two big fact tables repeatedly joined on the
  same key pay a full shuffle each time.  :func:`write_bucketed` +
  :func:`read_bucketed` persist both sides bucketed on the join key so
  Catalyst plans the join with ZERO exchanges (verified in
  tests/test_scale.py by asserting the absence of
  ``Exchange hashpartitioning`` in the joined plan).

The reference has no counterpart for either (single HashPartitioner,
no persistence format at all) — this is pure scale surface.

The iterative operators share two more pieces here: :func:`staged` /
:func:`cache` stage a loop's static relations at a measured width, and
:func:`iterate` is the one round loop — per-round lineage
truncation, the stop rule, reliable-checkpoint reclamation.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SALTS = 16

# Rows of a PAGE-grain relation per hash partition when an iterative
# operator sizes its static caches from a measured row count (see
# :func:`adaptive_partitions`).  ~16k pages ≈ ~54k edge rows per task
# on the wiki-derived graph — meaty enough that per-task overhead
# (launch, codegen dispatch, shuffle-block bookkeeping) stops
# dominating, while the `spark.sql.shuffle.partitions` cap keeps the
# cluster-scale behaviour conf-driven (the guide's "derive from input
# size, cap by configuration" rule).
ADAPTIVE_ROWS_PER_PARTITION = 16_384


def adaptive_partitions(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = ADAPTIVE_ROWS_PER_PARTITION,
) -> int:
    """Partition count for a static relation of ``n_rows`` rows:
    ``ceil-ish(n_rows / rows_per_partition)`` clamped to
    [1, spark.sql.shuffle.partitions].

    The iterative operators (PageRank / components / HITS / BFS /
    SSSP / LPA / k-core) hash-partition-and-persist their static
    adjacency once and then iterate; pinning that partition count to
    the CONFIGURED shuffle width (the pre-r11 shape) made every
    iteration pay `shuffle.partitions` tasks per stage even when the
    relation holds a few thousand rows — pure scheduling overhead at
    bench scale, while at cluster scale the conf cap (thousands of
    partitions on a real deployment) still rules because n_rows /
    rows_per_partition exceeds it.  Same measured-size discipline as
    ``dedup.cluster_pairs`` (pairs // 100k) applied to the graph
    family.  The caller supplies a MEASURED count (these operators all
    run a count action to materialize their caches anyway), so the
    sizing is exact, not an estimate."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return max(1, min(shuffle, int(n_rows) // rows_per_partition + 1))


@contextmanager
def staged(pages: DataFrame, n: int | None = None):
    """Stage a loop's static relations: yields ``(pages_c, parts, n)``
    — ``pages`` persisted for the block (one corpus parse however many
    relations derive from it), its MEASURED row count (counted unless
    given) and the :func:`adaptive_partitions` width for it — and
    releases ``pages`` after the block, which builds its relations at
    ``parts`` and pins them with :func:`cache`."""
    pages_c = pages.persist()
    try:
        if n is None:
            n = pages_c.count()
        yield pages_c, adaptive_partitions(pages.sparkSession, n), n
    finally:
        pages_c.unpersist()


def cache(*dfs: DataFrame) -> list[DataFrame]:
    """Persist every frame, then count each in turn: one materializing
    job apiece.  A persisted relation keeps its output partitioning, so
    a loop joining it on its partition key never re-shuffles it."""
    dfs = [df.persist() for df in dfs]
    for df in dfs:
        df.count()
    return dfs


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    rounds: int,
    stop: Callable[[DataFrame, DataFrame], bool] | None = None,
    eager: bool = False,
) -> tuple[DataFrame, int]:
    """Run up to ``rounds`` rounds ``state → step(state)`` → (state,
    rounds_run); ``stop(old, new)`` returning True ends the loop.

    Every round's state goes through :func:`truncate_lineage` (lazy
    unless ``eager``).  A loop state is typically referenced twice per
    round (the pull across the adjacency and the merge with its old
    value), so untruncated the analyzed plan doubles every round — the
    analyzer cost climbed 0.4 -> 3.5 s per round at sf0.1 between the
    old every-4th/5th-round checkpoints; a truncated state is a flat
    leaf, so every round plans the same small plan.

    On a session with a checkpoint dir (:func:`reliable`) each round is
    written eagerly as a reliable checkpoint and the previous round's
    files are deleted once the new ones are confirmed written: a
    finished loop leaves only its last round on disk (the caller's
    initial ``state`` is never deleted)."""
    durable = reliable(state)
    done, written = 0, None
    for done in range(1, rounds + 1):
        new = truncate_lineage(step(state), eager or durable)
        halt = stop is not None and stop(state, new)
        if durable:
            written = _supersede(written, new)
        state = new
        if halt:
            break
    return state, done


def _supersede(old_file: str | None, new: DataFrame) -> str | None:
    """Delete ``old_file`` once ``new``'s reliable checkpoint is
    written → the checkpoint file the next round supersedes.  A no-op
    on a local checkpoint, which has no file."""
    rdd = new._jdf.queryExecution().logical().rdd()
    new_file = rdd.getCheckpointFile()
    if not new_file.isDefined():
        return old_file
    if old_file is not None:
        sc = new.sparkSession.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(old_file)
        path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
    return new_file.get()


def unchanged(
    measure: Callable[[DataFrame], object],
    first: object,
    confirm: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> Callable[[DataFrame, DataFrame], bool]:
    """Stop rule for :func:`iterate`: stop once ``measure(new)`` (one
    driver scalar per round) equals the previous round's value —
    ``first`` before round 1 — and ``confirm(old, new)``, when given,
    agrees; the exact confirm runs only on a match."""
    last = [first]

    def stop(old: DataFrame, new: DataFrame) -> bool:
        now, prev = measure(new), last[0]
        last[0] = now
        return now == prev and (confirm is None or confirm(old, new))

    return stop


def label_fixpoint(
    labels: DataFrame, key: str, label: str
) -> Callable[[DataFrame, DataFrame], bool]:
    """Stop rule for a min-label loop: stop when no ``label`` changed.
    Per round ONE narrow aggregate — the label-multiset fingerprint
    Σ xxhash64(key, label) — and the exact old-vs-new label join runs
    only when consecutive fingerprints match: labels are min-monotone,
    so multiset equality ⟺ no change, and the join guards the
    astronomically-unlikely sum collision.  Fingerprints ``labels`` (the
    loop's initial state) once, now."""

    def fingerprint(df: DataFrame):
        # decimal(38) sum: n·2^63 overflows a long under ANSI mode
        return df.agg(
            F.sum(F.xxhash64(key, label).cast("decimal(38,0)"))
        ).collect()[0][0]

    def no_change(old: DataFrame, new: DataFrame) -> bool:
        return (
            new.alias("n")
            .join(old.alias("o"), key)
            .where(F.col(f"n.{label}") != F.col(f"o.{label}"))
            .count()
            == 0
        )

    return unchanged(fingerprint, fingerprint(labels), no_change)


def reliable(df: DataFrame) -> bool:
    """Whether ``df``'s session checkpoints reliably: a checkpoint dir
    is set (``spark.checkpoint.dir`` or ``sc.setCheckpointDir``)."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def truncate_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Lineage truncation whose durability is a session setting
    (guide §5).

    No checkpoint dir (the default): ``localCheckpoint`` — blocks live
    on executors, fast, free of distributed-FS round-trips, but LOST
    with an executor; because the truncated frame has no lineage, an
    executor loss mid-loop is unrecoverable.  Fine for local/bench
    runs and for jobs whose restart cost is acceptable.

    With a checkpoint dir on the session (:func:`reliable`): a RELIABLE
    ``checkpoint()`` to that filesystem dir (HDFS/S3 on a cluster) —
    iteration state survives executor loss, the 1000-executor recipe
    SCALING.md prescribes.  The checkpointed RDD is not persisted
    first, so writing the checkpoint computes the frame a second time.
    :func:`iterate` deletes a loop's superseded round checkpoints, and
    others are removed once unreferenced (``cleanCheckpoints`` in
    ``session.get_spark``).

    ``eager=False`` saves only the eager form's extra job over the
    finished frame, not the work below it: under AQE the call builds
    the frame's RDD from the adaptive plan, which runs every shuffle
    stage first — a one-groupBy frame runs one job at the call.
    ``pagerank()`` at sf0.1 on ``local[4]`` runs 50 jobs while its loop
    is being built and 2 on the ``count()`` after it.
    """
    if reliable(df):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _row_salt(
    df: DataFrame, n_salts: int, stable_id: str | None
) -> Column:
    """Retry-deterministic salt in [0, n_salts).

    Pure function of row values (not ``monotonically_increasing_id`` /
    ``rand``, whose outputs depend on partition layout), so a retried
    or recomputed task re-derives the identical salt — required for
    exactly-once semantics under task retry.

    With ``stable_id`` (a caller-supplied retry-stable row-id column,
    e.g. a primary key): hash only that column — works for any schema
    and spreads even byte-identical payload rows.  Without it: hash
    ALL columns, with two documented caveats: (a) byte-identical
    duplicate rows of a hot key collapse into ONE salt bucket, so the
    spread silently degrades exactly when the hot key is dominated by
    repeated identical rows; (b) ``F.hash`` raises an
    AnalysisException for MapType columns (hashing maps is disallowed)
    and pays per-row hashing of large array/struct payloads.  Pass a
    stable id when either applies.
    """
    cols = [F.col(stable_id)] if stable_id else [F.col(c) for c in df.columns]
    return F.pmod(F.hash(*cols), F.lit(n_salts))


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
    n_salts: int = DEFAULT_SALTS,
    stable_id: str | None = None,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs`` maps output column name → ``"fn(col)"`` where fn is one of
    sum / count / min / max (the algebraic aggregates that re-combine
    losslessly: partial sums re-sum, counts re-sum, min/max re-min/max).

    Stage 1 groups by (keys + a retry-deterministic salt, see
    :func:`_row_salt`) so a hot key occupies up to ``n_salts`` reducer
    tasks; stage 2 recombines the partials per key.  Cost: one extra
    (tiny) shuffle over the stage-1 output — rows ≤ distinct_keys ×
    n_salts, independent of input size.

    Salt caveats (full detail in :func:`_row_salt`): without
    ``stable_id`` the salt hashes all columns, so byte-identical
    duplicate rows share a bucket (no spread on identical-row hot keys)
    and MapType columns are unsupported; pass a retry-stable row-id
    column to avoid both.
    """
    recombine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    stage1_exprs, stage2_exprs = [], []
    for out, spec in aggs.items():
        fn, _, col = spec.partition("(")
        fn = fn.strip().lower()
        col = col.rstrip(")").strip()
        if fn not in recombine:
            raise ValueError(f"non-algebraic aggregate {fn!r}; use sum/count/min/max")
        first = F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(col)
        stage1_exprs.append(first.alias(f"_p_{out}"))
        stage2_exprs.append(recombine[fn](f"_p_{out}").alias(out))
    salt = _row_salt(df, n_salts, stable_id)
    return (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(*stage1_exprs)
        .groupBy(*key_cols)
        .agg(*stage2_exprs)
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = DEFAULT_SALTS,
    how: str = "inner",
    stable_id: str | None = None,
) -> DataFrame:
    """Skew-safe equi join: salt the skewed side, replicate the other
    side ``n_salts``× (explode over the salt domain), join on
    (key, salt).  The hot key's rows spread across ``n_salts`` tasks
    instead of one.  Use when the small side is too big to broadcast
    but replication ×n_salts is still cheap; otherwise just broadcast.

    The salt is retry-deterministic (:func:`_row_salt`), with the same
    caveats as :func:`salted_agg` spelled out here too: without
    ``stable_id`` it hashes ALL columns of the skewed side, so (a)
    byte-identical duplicate rows of a hot key land in ONE salt bucket
    — the skew mitigation silently degrades to no spread exactly in
    the "hot key with repeated identical rows" case — and (b) MapType
    columns raise and big array/struct payloads pay per-row hashing.
    Pass a retry-stable row-id column (``stable_id``) when either
    applies.
    """
    salt = _row_salt(skewed, n_salts, stable_id)
    left = skewed.withColumn("_salt", salt)
    right = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = left.join(right, [on, "_salt"], how)
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    drop_stale_location: bool = False,
) -> None:
    """Persist bucketed+sorted on the join key; subsequent equi joins
    between tables bucketed the same way need no exchange and no sort.

    ``drop_stale_location=True`` additionally rmtree's the table's
    local-warehouse directory before writing.  That is an explicit
    opt-in for in-memory-catalog sessions (tests, local runs), where
    the table registration dies with the session but its warehouse
    files survive and ``saveAsTable`` refuses a fresh table over the
    stale location.  It requires a LOCAL-FILESYSTEM warehouse and is
    refused otherwise; on a cluster with a persistent metastore leave
    it off — the DROP TABLE alone is correct there.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    if drop_stale_location:
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        if not (wh.startswith("file:") or "://" not in wh):
            raise ValueError(
                f"drop_stale_location requires a local warehouse, got {wh!r}"
            )
        import shutil

        local = wh.removeprefix("file:")
        shutil.rmtree(f"{local}/{table.lower()}", ignore_errors=True)
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
