"""Expected output digests from the engine's DuckDB oracles.

Each checked output is compared against the registry's ANSI-SQL twin
(``plans.registry.ORACLE_SQL``) run by DuckDB on the same generated
``documents`` table.  Digests are cached next to the generated input,
keyed by the oracle SQL text, so a repeated seed pays the oracle once.
"""

from __future__ import annotations

import hashlib
import json
import os

from .digest import duckdb_digest

# output name -> registry oracle, per workload
CHECKS = {
    "pagerank_wiki": {"ranking": "o1_ranking"},
    "index_wiki": {"postings": "a6_inverted_index_wiki", "tfidf": "tfidf"},
    "dedup_clusters": {"clusters": "x33_dedup_clusters"},
}


def expected_digests(checks: str, data_dir: str) -> dict:
    """{output name: digest} for the outputs of ``CHECKS[checks]`` on the
    generated input in ``data_dir``, cached next to that input."""
    from pagerank_using_mapreduce_spark.plans.registry import ORACLE_SQL

    sqls = {out: ORACLE_SQL[q] for out, q in CHECKS[checks].items()}
    key = hashlib.md5(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:12]
    path = os.path.join(data_dir, f"oracle-{checks}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)

    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.execute("SET enable_progress_bar = false")
        spill = os.path.join(data_dir, "duckdb_tmp")
        con.execute(f"SET temp_directory = '{spill}'")
        docs = os.path.join(data_dir, "documents.parquet", "*.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        out = {name: duckdb_digest(con, sql) for name, sql in sqls.items()}
    finally:
        con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
