"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (computes every
column, writes nothing) so Catalyst cannot prune the work away.

Robustness: each query runs ``$SPARK_GRAFT_BENCH_REPS`` times
(default 5) and the reported per-query number is the MEDIAN; the raw
timings (``runs``) and the (max-min)/median ``spread`` are written to
``BENCH_DETAIL.json`` next to this script so a noisy machine is
visible in the record instead of masquerading as a regression
(single-run numbers produced phantom 40% "regressions" in round 2;
3-rep medians still let one 15 s outlier skew x35 in round 3's log).

The stdout line stays COMPACT on purpose: the driver captures only a
bounded tail of output and parses the last line as JSON — round 4's
line (43 queries x 5 raw reps + spread inline) overflowed that buffer
and recorded ``parsed: null``.  Per-rep detail goes in the sidecar;
the final line carries medians only.

Scaling trend: a second section runs the five headline ITERATIVE
queries at a synthetic sf1 (10× sf0.1, dense doc_id replication —
tools/make_scaled_sf.py, auto-generated on first use) and reports
them under ``sf1_queries``.  The corpus link graph derives entirely
from doc_id arithmetic, so this is a true 10× graph, not padded rows;
comparing ``sf1_queries`` to ``queries`` shows the sublinear growth
the partitioning strategy is designed for.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pagerank_using_mapreduce_spark.plans.registry import QUERIES  # noqa: E402
from pagerank_using_mapreduce_spark.session import get_spark  # noqa: E402

# Headline set: the flagship iterative query, the reference's second
# pipeline, and the heaviest extension ops (extended as they land).
BENCH_QUERIES = [
    "i1_pagerank10",
    "o1_ranking",
    "a6_inverted_index",
    "a6_inverted_index_wiki",
    "tfidf",
    "x4_near_dups",
    "x13_simhash",
    "x5_cosine_topk",
    "x12_asof_join",
    "x16_salted_agg",
    "q1_pricing_summary",
    "q18_large_orders",
    "c1_curation_pipeline",
    "i2_personalized_pagerank",
    "e2_hourly_rollup",
    "e1_sessions",
    "z1_stream_rollup",
    # components headline is cc_star (the O(log n) scale path; 2.5-3x
    # faster than hash-min at sf0.1 and diameter-safe — SCALING.md).
    # Fixed-k hash-min stays registered as cc_components, the oracle
    # twin, just not bench-tracked.
    "cc_star",
    "g5_bfs_depths",
    "x35_hll_registers",
    "x33_dedup_clusters",
    "x43_join_size_estimate",
    "x45_sequence_packing",
    "g7_label_prop",
    "q21_waiting_supplier",
    "x48_chunk_windows",
    "x49_curriculum_order",
    "x51_bpe_merges",
    "x54_ngram_contamination",
    "x56_incremental_dedup",
    "g8_sssp_dists",
    "x55_semantic_clusters",
    "x60_paragraph_dedup",
    "x62_bpe_encode",
    "x63_containment",
    "g9_weighted_pagerank",
    "e9_attribution",
    "x68_dataset_profile",
    "g10_bfs_frontier",
    "x69_pixel_decode",
    "x71_wav_decode",
    "e10_debounce",
    "x76_kmv_distinct",
    "x77_epoch_shuffle",
    "w7_concurrency",
    "rj2_interval_overlap",
    # the heavy tail (VERDICT r05 #3): the registry's most expensive
    # queries, tracked so their cost can't drift unnoticed
    "g12_landmark_closeness",
    "x88_dedup_savings",
    "x83_filter_calibration",
    "c4_training_manifest",
    "x90_batched_bpe",
    "x91_index_compaction",
    "g13_truss_edges",
    "x94_rare_token_docs",
    # round-6b additions: the z-keyed pair join and the vocab²-scale
    # shuffle-join scorer are the two new shapes worth watching
    "g14_adamic_adar",
    "x103_bigram_perplexity",
    # round-7: the salted exact set-sim join (skew-capped AllPairs)
    # and the recall audit that runs BOTH near-dup pipelines
    "x108_setsim_join",
    "x116_lsh_recall",
    # round-8 (VERDICT r07 #7): the remaining round-7 heavies, so
    # regressions in them hit the canary-normalized comparison, not
    # only the sweep artifact
    "x109_winnow_fingerprints",
    "x113_winnow_contamination",
    "g17_local_bridges",
    "x117_pq_topk",
    # round-8 additions
    "x118_exact_contamination",
    "x119_lsh_band_frontier",
    "x120_cross_source_dups",
    "x121_gram_spectrum",
    "x122_dedup_weights",
    # round-9 (VERDICT r08 #5): the sweep heavies previously tracked
    # nowhere — their cost could drift without any round-over-round
    # signal (cc_converged is the registry's slowest sweep query)
    "cc_converged",
    "cc_components",
    "g4_hits",
    "x39_top_pc",
    "x40_pc_projection",
    "z3_stream_stream_join",
    # round-9 additions
    "x123_quality_canonical",
    "x124_lsh_bucket_stats",
    # round-10 additions: the sampled-truth frontier (the 100-TB audit
    # posture — its cost vs x119's full-truth row is the point), the
    # keep-best capstone, and the variant-index audit (x58's pre-flight)
    "x125_frontier_sampled",
    "c5_quality_manifest",
    "x126_variant_bucket_stats",
    "x58_fuzzy_word_pairs",
    # round-10b additions: the classifier-filter stage (broadcast-join
    # scoring pass), its per-source calibration, and the integer-exact
    # perceptron trainer that distills the x8 signal into the model
    "x129_classifier_scores",
    "x130_classifier_calibration",
    "x131_perceptron_train",
    "x132_quality_mix",
    # round-11 additions: the sampled variant pre-flight (vs x126's
    # exact row), the trained-filter capstone, the PNG IDAT decode,
    # and the typo-normalized dedup (the fuzzy family's end use)
    "x133_variant_stats_sampled",
    "c6_trained_curation",
    "x134_png_decode",
    "x135_normalized_dedup",
    # round-11 extension: DSIR importance resampling (bigram-hash model
    # fit + Gumbel-top-k), the embedding-level decontamination screen
    # (broadcast eval matrix, mapInPandas scorer), and the streaming
    # DSIR-at-ingest twin
    "x136_dsir_resample",
    "x137_embedding_contamination",
    "z22_stream_dsir_score",
    "z23_stream_contamination",
    "c7_dsir_curation",
    # round-11 extension 2: the CCNet/RefinedWeb boilerplate scrub
    # (narrow doc-local rewrite, digest-only wide pass), the fuzzy
    # eval-decontamination screen (broadcast eval band table), and the
    # streaming scrub-at-ingest twin
    "x138_boilerplate_removal",
    "x139_lsh_contamination",
    "z24_stream_boilerplate",
    "c8_scrub_curation",
]

# Canary pair (VERDICT r06 #7): one trivial scan-bound query and one
# shuffle-heavy query, BOTH code-frozen, measured every run.  The host
# swings ±50% session-to-session under load, so tracked numbers are
# also reported normalized by canary drift vs the pinned idle-host
# baseline below — regressions are judged on the normalized column.
CANARY_QUERIES = ["s1_corpus_scan", "x16_salted_agg"]
# warm medians from the r07 reference FULL bench run on an idle host
# (externally idle; the load is the bench's own, which is the same
# condition every future run measures under — a standalone 2-query
# session measured 2.4x slower purely from JVM/codegen-cache state,
# so the baseline MUST come from a full bench.py run).  The PINNED
# unit for the normalized column; never re-measure (re-pinning would
# silently re-base every cross-round comparison).
CANARY_BASELINE = {"s1_corpus_scan": 0.248, "x16_salted_agg": 0.224}

# The iterative/heavy queries whose scaling behavior matters most;
# run again at the synthetic sf1 (documents-derived only — these five
# read no other table).
SF1_QUERIES = [
    "i1_pagerank10",
    "cc_star",
    "o1_ranking",
    "g5_bfs_depths",
    "x33_dedup_clusters",
    "g8_sssp_dists",
    "x51_bpe_merges",  # corpus 10x, vocab constant: the corpus->vocab
    #                    compression should make this near-flat
    "g9_weighted_pagerank",
    "x60_paragraph_dedup",
    "x76_kmv_distinct",   # r08: mutated replicas GROW the vocab with the
    #                       corpus (decade finding) — two-phase KMV caps the sort
    "x79_shard_manifest",
    "c4_training_manifest",
    "g12_landmark_closeness",  # the registry's most expensive query
    "g14_adamic_adar",  # z-keyed pair join: the cap must keep it sublinear
    # near-dup decade (VERDICT r06 #5): replicas are token-mutated in
    # make_scaled_sf so cluster sizes stay bounded and the true pair
    # relation scales LINEARLY — x33 (above) and x108 are measurable at
    # sf1/sf10 now
    "x108_setsim_join",
    # round-9 (VERDICT r08 #6): decade coverage for the r08/r09
    # dedup-family additions (all documents-only)
    "x118_exact_contamination",
    "x119_lsh_band_frontier",
    "x120_cross_source_dups",
    "x121_gram_spectrum",
    "x122_dedup_weights",
    "x123_quality_canonical",
    "x124_lsh_bucket_stats",
]

# Vocabulary-growth decade (VERDICT r09 #1): the operators whose scale
# story is keyed to the DISTINCT-WORD domain, not the corpus volume —
# two-phase KMV, the vocab²-scale gram-model join, the hapax join,
# SymSpell delete-variant blocking, top-K coverage, the Zipf rank
# window.  The default replica-vocab decade keeps sf10 vocabulary at
# ~50k (mutation spellings are (replica, position)-bounded), so these
# ops never met the regime they are armored for; vocab="growing" data
# (~190k spellings at factor 10, ~1.9M at factor 100) is the regime.
SF1_VG_QUERIES = [
    "x76_kmv_distinct",   # proven branch fires: per-source vocab/16 >> k
    "x82_kmv_overlap",
    "x103_bigram_perplexity",  # gram-model shuffle join at vocab² scale
    "x94_rare_token_docs",     # hapax relation grows with the corpus
    "x57_vocab_coverage",
    "x58_fuzzy_word_pairs",    # delete-variant keys ~ O(len²) x vocab
    "x105_zipf_slope",
    # r11 (VERDICT r10 #3): the SHINGLE-keyed dedup family — vocabulary
    # growth changes the shingle domain too (minhash/LSH bucket
    # occupancy, x108 prefix-filter selectivity), so these need vg
    # decade rows, not just corpus-growth ones
    "x2_minhash_signatures",
    "x3_lsh_candidates",
    "x4_near_dups",
    "x33_dedup_clusters",
    "x108_setsim_join",
    "x124_lsh_bucket_stats",
    "x133_variant_stats_sampled",  # the sampled pre-flight's own decade
]


def _env_fingerprint() -> dict:
    """CPU model / core count / load / turbo state: the r05 A/B showed
    host drift masquerading as a 50% regression — record enough to
    tell environments apart across rounds."""
    fp: dict = {"cpus": os.cpu_count()}
    try:
        with open("/proc/cpuinfo") as f:
            for ln in f:
                if ln.startswith("model name"):
                    fp["cpu"] = ln.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    try:
        fp["load1"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    for path, key in [
        ("/sys/devices/system/cpu/intel_pstate/no_turbo", "no_turbo"),
        (
            "/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor",
            "governor",
        ),
    ]:
        try:
            with open(path) as f:
                fp[key] = f.read().strip()
        except OSError:
            pass
    return fp


def _run(spark, name: str, sf_dir: str, reps: int) -> list[float]:
    samples = []
    for _ in range(reps):
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(round(time.time() - t0, 3))
    return samples


def _scaled_dir(
    name: str, vocab: str, factor: int, env_var: str | None = None
) -> str | None:
    """Locate (or build) a synthetic decade dir; None if building
    fails.

    A generator-version marker gates reuse: a cached dir built by an
    OLDER make_scaled_sf (e.g. the pre-r07 unmutated replicas) would
    silently change what the section measures — x108's cost is
    quadratic on verbatim replicas — so any dir without the current
    marker is rebuilt."""
    repo = os.path.dirname(os.path.abspath(__file__))
    d = os.path.join(repo, ".benchdata", name)
    if env_var:
        d = os.environ.get(env_var, d)
    try:
        from tools.make_scaled_sf import make_scaled, marker_name

        marker = os.path.join(d, marker_name(vocab))
        if os.path.exists(
            os.path.join(d, "documents.parquet")
        ) and os.path.exists(marker):
            return d
        make_scaled("/root/testdata/sf0.1", d, factor, vocab=vocab)
        return d
    except Exception:
        return None


def _sf1_dir() -> str | None:
    return _scaled_dir("sf1", "replica", 10, env_var="SPARK_GRAFT_SF1_DIR")


def _decade_section(
    sf_dir: str, names: list[str], reps: int
) -> tuple[dict[str, float], dict[str, str]]:
    """Run a decade query list via tools/decade_bench.py in a FRESH
    subprocess JVM — the dedicated-session decade convention, and a
    correctness requirement: driver.memory is a JVM-launch option, so
    an in-process session restart CANNOT raise the heap, and the r10
    full run proved the shared 8g bench session OOMs on
    x58@sf1_vg's 83.7M-pair fan-out (killing the 100+ good rows
    already measured).  Heap default 12g (`SPARK_GRAFT_SF1_MEM`);
    one query's failure is recorded per-name, never fatal."""
    repo = os.path.dirname(os.path.abspath(__file__))
    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = os.environ.get(
        "SPARK_GRAFT_SF1_MEM", "12g"
    )
    try:
        out = subprocess.run(
            [
                sys.executable,
                os.path.join(repo, "tools", "decade_bench.py"),
                sf_dir,
                str(reps),
                ",".join(names),
            ],
            capture_output=True,
            text=True,
            env=env,
            timeout=3600,
        )
        payload = [
            ln for ln in out.stdout.splitlines() if ln.startswith("{")
        ]
        if not payload:
            return {}, {"__section__": (out.stderr or "no output")[-300:]}
        data = json.loads(payload[-1])
    except Exception as e:  # noqa: BLE001 — the section must never
        # sink the sf0.1 record already in hand
        return {}, {"__section__": str(e)[:300]}
    timings = {
        n: round(min(s), 3) for n, s in data.get("runs", {}).items() if s
    }
    return timings, data.get("errors", {})


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    sf1_reps = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_SF1_REPS", "2")))
    spark = get_spark(app_name="bench")
    # one trivial action so JVM/executor init is not billed to query #1
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    spread: dict[str, float] = {}
    only = {
        n for n in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if n
    }

    # Mid-run canary probe (r08, from the x94 post-mortem): the r07
    # "3.2x regression" was a transient host-load window covering ONE
    # query's reps mid-session (builder session x94 1.27 s vs the
    # driver's 0.42 s the same day, neighbors before it at 1.0x, a
    # decaying 1.5-1.7x band after) — invisible to a start/end canary
    # (drift read 1.0).  A 1-rep s1 probe every PROBE_EVERY tracked
    # queries timestamps the load profile ACROSS the session; queries
    # bracketed by an inflated probe land in `load_suspects` so a
    # one-session spike reads as environment, not regression.
    probe_name = "s1_corpus_scan"
    canary_series: list[dict] = []

    def _probe(after: str) -> None:
        t0 = time.time()
        QUERIES[probe_name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        canary_series.append(
            {"after": after, "sec": round(time.time() - t0, 3)}
        )

    PROBE_EVERY = 10
    _probe("WARMUP-COLD")  # pays s1 codegen; excluded from drift stats
    _probe("START")
    done = 0
    probe_at: dict[str, int] = {}
    for name in BENCH_QUERIES:
        if name not in QUERIES or (only and name not in only):
            continue
        probe_at[name] = len(canary_series)
        samples = _run(spark, name, sf_dir, reps)
        runs[name] = samples
        done += 1
        if done % PROBE_EVERY == 0:
            _probe(name)
        # rep 0 pays one-time costs (scan caching, codegen) — keep it
        # in `runs` for auditability but exclude it from the stats
        warm = samples[1:] if len(samples) >= 3 else samples
        med = statistics.median(warm)
        timings[name] = round(med, 3)
        # spread over the warm samples minus the single worst one: a
        # lone GC/compaction pause on a 0.3 s query would otherwise
        # read as a 50% "variance"; the raw runs stay published
        trimmed = sorted(warm)[:-1] if len(warm) >= 3 else warm
        spread[name] = (
            round((max(trimmed) - min(trimmed)) / med, 3) if med else 0.0
        )
    _probe("END")
    total = round(sum(timings.values()), 3)

    # per-window load audit over the probe series: a query bracketed
    # by an inflated probe (>1.5x the pinned s1 baseline) was measured
    # under transient load — its raw number is suspect regardless of
    # the session-level drift figure
    probe_base = CANARY_BASELINE.get(probe_name)
    load_suspects: list[str] = []
    series_max_drift = None
    if probe_base:
        warm_probes = [
            p for p in canary_series if p["after"] != "WARMUP-COLD"
        ]
        series_max_drift = round(
            max(p["sec"] / probe_base for p in warm_probes), 3
        )
        for name, k in probe_at.items():
            brackets = [canary_series[k - 1]]
            if k < len(canary_series):
                brackets.append(canary_series[k])
            if any(
                p["after"] != "WARMUP-COLD"
                and p["sec"] / probe_base > 1.5
                for p in brackets
            ):
                load_suspects.append(name)

    # canary drift: geometric mean of observed/baseline over the pair;
    # normalized numbers divide by the drift so a loaded host reads the
    # same as an idle one (raw numbers stay published alongside)
    canary: dict[str, float] = {}
    for name in CANARY_QUERIES:
        if name in timings:
            canary[name] = timings[name]
        elif name in QUERIES and not only:
            samples = _run(spark, name, sf_dir, reps)
            runs[name] = samples
            warm = samples[1:] if len(samples) >= 3 else samples
            canary[name] = round(statistics.median(warm), 3)
    drift = 1.0
    if all(n in canary and CANARY_BASELINE.get(n) for n in CANARY_QUERIES):
        ratios = [canary[n] / CANARY_BASELINE[n] for n in CANARY_QUERIES]
        drift = round((ratios[0] * ratios[1]) ** 0.5, 3)
    timings_norm = {n: round(v / drift, 3) for n, v in timings.items()}
    total_norm = round(sum(timings_norm.values()), 3)

    env = _env_fingerprint()

    # free the main session's heap/threads before the decade JVMs
    # spin up (idempotent; the final stop() below stays a no-op)
    spark.stop()

    decade_errors: dict[str, str] = {}
    sf1_timings: dict[str, float] = {}
    sf1_dir = _sf1_dir() if sf1_reps else None
    if sf1_dir:
        sf1_timings, errs = _decade_section(
            sf1_dir, [n for n in SF1_QUERIES if n in QUERIES], sf1_reps
        )
        decade_errors.update({f"sf1:{k}": v for k, v in errs.items()})

    sf1_vg_timings: dict[str, float] = {}
    sf1_vg_dir = _scaled_dir("sf1_vg", "growing", 10) if sf1_reps else None
    if sf1_vg_dir:
        sf1_vg_timings, errs = _decade_section(
            sf1_vg_dir,
            [n for n in SF1_VG_QUERIES if n in QUERIES],
            sf1_reps,
        )
        decade_errors.update({f"sf1_vg:{k}": v for k, v in errs.items()})

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "reps": reps,
                "runs": runs,
                "spread": spread,
                "env": env,
                "canary": canary,
                "canary_baseline": CANARY_BASELINE,
                "canary_drift": drift,
                "canary_series": canary_series,
                "canary_series_max_drift": series_max_drift,
                "load_suspects": load_suspects,
                "queries_canary_normalized": timings_norm,
                "value_canary_normalized": total_norm,
                "sf1_queries": sf1_timings,
                "sf1_vg_queries": sf1_vg_timings,
                "decade_errors": decade_errors,
                "sf1_vg_note": (
                    "vocab='growing' 10x decade (make_scaled_sf v4):"
                    " mutation spellings carry a doc_id%251 component, so"
                    " the distinct domain grows ~linearly with the corpus"
                    " (~190k spellings / ~30k per source at factor 10 vs"
                    " ~1k in replica mode) — the regime the vocab-scale"
                    " operators are armored for; min of"
                    f" {sf1_reps} rep(s)"
                ),
                "sf1_note": (
                    "synthetic 10x sf0.1 documents (doc_id replication,"
                    " replicas k>=1 token-mutated 1-in-4 —"
                    " tools/make_scaled_sf.py v3: 32 part files, so the"
                    " scan parallelizes; pre-v3 decade numbers measured a"
                    " single-task scan artifact); min of"
                    f" {sf1_reps} rep(s).  r10: decade sections run in a"
                    " FRESH 12g subprocess JVM per dir"
                    " (tools/decade_bench.py — the shared 8g bench"
                    " session OOMed on x58@sf1_vg, and driver.memory"
                    " cannot change without a new JVM); sf1 numbers are"
                    " re-based vs the pre-r10 shared-session convention"
                ),
            },
            f,
            indent=1,
        )
    print(f"per-rep runs/spread + sf1 detail -> {detail_path}", file=sys.stderr)
    # The headline JSON must be the GUARANTEED LAST stdout line (the
    # r10 record's tail held decade detail instead of the parsed line
    # — prev_bench_ok went false and the round lost its driver-side
    # prev ratio).  Everything that could write output — the decade
    # subprocesses, the session stop — happens ABOVE this point;
    # stderr is flushed first so buffered interleaving can't trail the
    # line, and the print itself flushes and terminates the program.
    sys.stderr.flush()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # per-query normalized column = queries[n] / canary_drift;
                # the full dict lives in BENCH_DETAIL.json (stdout must
                # stay under the driver's tail buffer — see docstring)
                "value_canary_normalized": total_norm,
                "canary": canary,
                "canary_drift": drift,
                "canary_series_max_drift": series_max_drift,
                "load_suspects": load_suspects,
                "reps": reps,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "sf1_queries": sf1_timings,
                "sf1_vg_queries": sf1_vg_timings,
                "decade_errors": decade_errors,
                "env": env,
            }
        ),
        flush=True,
    )
    # NOT followed by spark.stop(): the session was already stopped
    # before the decade sections; a trailing stop here could only add
    # output after the headline line.


if __name__ == "__main__":
    main()
