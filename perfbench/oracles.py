"""Expected outputs, computed independently of the engine and cached.

Crawl workloads: ``oracle.run_oracle`` (the pure-Python reference
semantics) under the same config, reduced to row counts and the same
order-insensitive ``bit_xor(xxhash64(...))`` hashes the engine's
``CrawlRunResult.out_hashes`` carry.

``doc_queries``: every ``queries()`` entry's ``oracle_sql()`` twin run in
DuckDB, in a separate process started after the Spark JVM has exited
(DuckDB and the JVM side by side can run the box out of memory). Frames
are normalised like ``scripts/check_entry.py`` does: columns sorted by
name, cells stringified (floats to 6 significant digits), rows sorted.

Cache entries are keyed by the workload config and a digest of the
program's source, so a changed engine or oracle never reads a stale
expectation.

Run as ``python3 -m perfbench.oracles duck <data_dir> <ship_dir> <out.json>``
for the DuckDB step.
"""

from __future__ import annotations

import hashlib
import json
import math
import subprocess
import sys
from pathlib import Path

TRACE_HASH = "bit_xor(xxhash64(crawl_id, batch_id, seq_in_batch, url_norm, depth))"
SEEN_HASH = "bit_xor(xxhash64(crawl_id, url_norm))"
DOC_TABLES = ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split()
# queries() entries that re-run crawls the crawl workloads already cover
CRAWL_QUERIES = frozenset({"crawl_trace_synthetic", "crawl_host_stats", "queue_health"})


def source_digest(root: Path) -> str:
    h = hashlib.sha256()
    files = sorted((root / "crawler_distributed_spark").rglob("*.py"))
    for f in files + [root / "__spark_entry__.py"]:
        h.update(f.relative_to(root).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _cached(path: Path, compute):
    if path.exists():
        return json.loads(path.read_text())
    value = compute()
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(value, sort_keys=True))
    tmp.replace(path)
    return value


# --- crawl ------------------------------------------------------------------


def crawl_hashes(trace_df, seen_df) -> dict:
    """Counts and hashes of a trace and a seen-set DataFrame (2 jobs)."""
    t = trace_df.selectExpr("count(1) AS n", f"{TRACE_HASH} AS h").collect()[0]
    s = seen_df.selectExpr("count(1) AS n", f"{SEEN_HASH} AS h").collect()[0]
    return {"trace_rows": int(t["n"]), "trace_hash": int(t["h"] or 0),
            "seen_rows": int(s["n"]), "seen_hash": int(s["h"] or 0)}


def crawl_expected(spark, cache_file: Path, cfg, seeds, policy, trace_schema) -> dict:
    """Oracle counts and hashes for one crawl config, cached in
    ``cache_file``. The oracle's rows are hashed by Spark with the engine's
    own trace column types, so equal hashes mean equal row multisets."""
    def compute():
        from crawler_distributed_spark.oracle import run_oracle

        res = run_oracle(cfg, seeds, policy)
        seen = [(c, u) for c, urls in sorted(res.seen.items()) for u in sorted(urls)]
        return crawl_hashes(
            spark.createDataFrame(res.trace, trace_schema),
            spark.createDataFrame(seen, "crawl_id string, url_norm string"),
        )

    return _cached(cache_file, compute)


def compare(observed: dict, expected: dict) -> list[str]:
    """Names of the expected values the observation misses."""
    return [k for k in sorted(expected) if observed.get(k) != expected[k]]


# --- doc_queries ------------------------------------------------------------


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def frame_digest(cols: list[str], rows) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    payload = json.dumps([[cols[i] for i in order], body])
    return {"rows": len(body), "digest": hashlib.sha256(payload.encode()).hexdigest()}


def doc_expected(root: Path, cache: Path, data_dir: Path, ship_dir: Path) -> dict:
    """{query: frame_digest} from DuckDB, computed in a child process."""
    h = hashlib.sha256(source_digest(root).encode())
    for f in sorted(data_dir.glob("*.parquet")):
        h.update(f.read_bytes())

    def compute():
        out = ship_dir / "duck_expected.json"
        subprocess.run(
            [sys.executable, "-m", "perfbench.oracles", "duck",
             str(data_dir), str(ship_dir), str(out)],
            cwd=root, check=True, timeout=150,
        )
        return json.loads(out.read_text())

    return _cached(cache / f"doc-{h.hexdigest()[:16]}.json", compute)


def _duck_main(data_dir: str, ship_dir: str, out: str) -> None:
    import duckdb

    import __spark_entry__ as entry

    entry._SHIP_DIR = ship_dir
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{ship_dir}/duckdb_tmp'")
    for t in DOC_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    result = {}
    for name, sql in entry.oracle_sql().items():
        if name in CRAWL_QUERIES:
            continue
        cur = con.execute(sql)
        result[name] = frame_digest([d[0] for d in cur.description], cur.fetchall())
    Path(out).write_text(json.dumps(result))


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] != "duck":
        sys.exit("usage: python3 -m perfbench.oracles duck <data_dir> <ship_dir> <out.json>")
    _duck_main(*sys.argv[2:])
