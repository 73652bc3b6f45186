"""The benchmark's workloads, composed from the package's public functions.

All workloads share the set-up ``load_documents`` (read the generated
parquet and count it).  A workload's ``run`` is one repetition of its
pipeline: it wraps every library call in a tracer span and returns the
digests of the outputs it produced; a value may be a zero-argument
callable, which the caller evaluates after the timed region (for checks
that read output back from disk).  ``extras`` derives the counters of the
traced run that no span measures.

Lazy calls (``parse_corpus``) only build a plan, so their work shows in
the span of the call that executes it.  The index postings and the
near-duplicate pairs are materialized in their own spans so that their
executor work is attributed to the layer that builds them rather than to
the writer or the cluster loop that consumes them.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

from .digest import rows_digest, spark_digest

ITERATIONS = 10


class Tracer:
    """Records spans; when enabled, also makes each span the Spark job
    group of every job started inside it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        from pyspark import SparkContext

        sid = f"{name}@{len(self.spans)}"
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(sid, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            sc = SparkContext._active_spark_context
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"id": sid, "name": name, "phase": self.phase, "start": start, "end": end}
            )


def _e6(col):
    """Integer micro-units, the registry's quantization for float outputs."""
    from pyspark.sql import functions as F

    return F.floor(col * 1e6 + F.lit(0.5000001)).cast("long")


def load_documents(spark, data_dir: str, tracer: Tracer) -> dict:
    from pagerank_using_mapreduce_spark.sources import load_table

    with tracer.span("sources.load"):
        docs = load_table(spark, data_dir, "documents")
        n = docs.count()
    return {"docs": docs, "n": n}


class PagerankWiki:
    """Reference pipeline 1: wiki corpus -> parse -> 10 PageRank rounds ->
    global descending ranking (the ``o1_ranking`` shape)."""

    name = "pagerank_wiki"

    def run(self, spark, inp: dict, tracer: Tracer, workdir: str) -> dict:
        from pyspark.sql import functions as F

        from pagerank_using_mapreduce_spark.operators import (
            pagerank,
            parse_corpus,
            with_global_position,
        )
        from pagerank_using_mapreduce_spark.sources import wiki_corpus

        with tracer.span("pagerank.parse"):
            pages = parse_corpus(wiki_corpus(inp["docs"], inp["n"]))
        with tracer.span("pagerank.loop"):
            ranks = pagerank(pages, n=inp["n"], iterations=ITERATIONS)
        with tracer.span("ranking.global_sort"):
            rounded = ranks.select("title", _e6(F.col("rank")).alias("rank_e6"))
            out = with_global_position(
                rounded, [F.desc("rank_e6"), F.asc("title")]
            ).select("pos", "title", "rank_e6")
            ranking = spark_digest(out)
        return {"ranking": ranking}

    def extras(self, spark, inp: dict, workdir: str) -> dict:
        return {}


def _postings_digest(path: str):
    def digest():
        rows = []
        for name in sorted(os.listdir(path)):
            if name.startswith("part-"):
                with open(os.path.join(path, name)) as f:
                    for line in f:
                        word, doc_ids = line.rstrip("\n").split("\t")
                        rows.append({"word": word, "doc_ids": doc_ids})
        return rows_digest(["word", "doc_ids"], rows)

    return digest


def postings_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if n.startswith("part-")
    )


class IndexWiki:
    """Reference pipeline 2 and its TF-IDF generalisation on one corpus:
    the wiki inverted index written as postings text, then TF-IDF over
    the document text.  Its traced run also traces ``DedupClusters`` on
    the same documents."""

    name = "index_wiki"

    def run(self, spark, inp: dict, tracer: Tracer, workdir: str) -> dict:
        from pyspark.sql import functions as F

        from pagerank_using_mapreduce_spark.operators import (
            inverted_index_wiki,
            tf_idf,
        )
        from pagerank_using_mapreduce_spark.sources import (
            wiki_corpus,
            write_postings_text,
        )

        docs, n = inp["docs"], inp["n"]
        out_dir = os.path.join(workdir, "postings")
        shutil.rmtree(out_dir, ignore_errors=True)
        with tracer.span("inverted_index.build"):
            postings = inverted_index_wiki(wiki_corpus(docs, n)).persist()
            postings.count()
        with tracer.span("sources.write_postings"):
            write_postings_text(postings, out_dir)
        postings.unpersist()
        with tracer.span("tf_idf.build"):
            tfidf = tf_idf(docs, n_docs=n).select(
                "doc_id", "word", "tf", "df", _e6(F.col("tf_idf")).alias("tfidf_e6")
            )
            tfidf_digest = spark_digest(tfidf)
        return {"postings": _postings_digest(out_dir), "tfidf": tfidf_digest}

    def extras(self, spark, inp: dict, workdir: str) -> dict:
        return {"sources.postings_bytes": postings_bytes(os.path.join(workdir, "postings"))}


class DedupClusters:
    """The ``x33_dedup_clusters`` composition: augmented documents ->
    materialized shingle arrays -> near-duplicate pairs (minhash, LSH,
    verify) -> ``cluster_pairs`` fixpoint."""

    name = "dedup_clusters"

    def run(self, spark, inp: dict, tracer: Tracer, workdir: str) -> dict:
        from pyspark import StorageLevel

        from pagerank_using_mapreduce_spark.operators.dedup import (
            augment_docs,
            cluster_pairs,
            near_dup_pipeline,
            shingle_arrays,
        )

        with tracer.span("dedup.shingles"):
            aug = augment_docs(inp["docs"])
            sha = shingle_arrays(aug).localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
        with tracer.span("dedup.near_dup"):
            pairs = near_dup_pipeline(aug, sha).persist()
            n_pairs = pairs.count()
        with tracer.span("dedup.cluster"):
            clusters_digest = spark_digest(cluster_pairs(aug, pairs))
        pairs.unpersist()
        self.last = {"sha": sha, "pairs": n_pairs}
        return {"clusters": clusters_digest}

    def extras(self, spark, inp: dict, workdir: str) -> dict:
        """``dedup.verify_yield``: the last run's verified pairs over its
        LSH candidate pairs.  ``near_dup_pipeline`` does not expose its
        candidates, so they are counted once, untimed, by the public
        ``minhash_signatures`` and ``lsh_candidates`` it composes, on the
        last run's materialized shingle arrays."""
        from pyspark.sql import functions as F

        from pagerank_using_mapreduce_spark.operators.dedup import (
            lsh_candidates,
            minhash_signatures,
        )

        sha = self.last["sha"]
        sigs = minhash_signatures(sha.select("doc_id", F.explode("sh").alias("shingle")))
        n_cands = lsh_candidates(sigs).count()
        return {"dedup.verify_yield": self.last["pairs"] / n_cands if n_cands else 0.0}


WORKLOADS = {w.name: w for w in (PagerankWiki(), IndexWiki())}
# traced alongside a workload, without end-to-end metrics of its own
COMPANIONS = {"index_wiki": DedupClusters()}
