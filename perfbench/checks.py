"""Output checks, run after the timed window. Each returns a list of
problems; an empty list is a pass.

Registry queries with a SQL twin are compared with DuckDB on the same
generated parquet, through the normalization of ``tests/oracle_harness``
(row count, column set, order-insensitive exact values). Calls without
a SQL twin are checked against the invariants their docstrings state.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq

from tests.oracle_harness import compare


def duck(data: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view per generated table."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


class _Collected:
    """The two attributes ``compare`` reads from a Spark DataFrame,
    over a result already collected as Arrow."""

    def __init__(self, tbl):
        self.columns = tbl.column_names
        self._tbl = tbl

    def toPandas(self):
        return self._tbl.to_pandas()


def oracle(ctx, sql: str, tbl, sample: str | None = None) -> list[str]:
    """``tbl`` against the DuckDB twin ``sql``; with ``sample``, only the
    rows whose ``sample`` column hashes to 0 mod 8, on both sides."""
    if sample is not None:
        where = f"WHERE hash({sample}) % 8 = 0"
        ctx.duck.register("spark_result", tbl)
        try:
            tbl = ctx.duck.execute(f"SELECT * FROM spark_result {where}").arrow()
        finally:
            ctx.duck.unregister("spark_result")
        sql = f"SELECT * FROM ({sql}) {where}"
    return compare(_Collected(tbl), ctx.duck.execute(sql).fetchdf())


def equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, want {want}"]


def minhash_pairs(ctx, tbl) -> list[str]:
    """Pairs are ordered (id_a < id_b), distinct, and share at least one
    whole LSH band, so their estimate is at least rows_per_band/hashes
    (4 of 32 signature positions)."""
    d = tbl.to_pydict()
    pairs = list(zip(d["id_a"], d["id_b"]))
    probs = [] if all(a < b for a, b in pairs) else ["pair not ordered id_a < id_b"]
    probs += equal("distinct pairs", len(set(pairs)), len(pairs))
    if any(not (4 / 32 <= j <= 1.0) for j in d["est_jaccard"]):
        probs.append("est_jaccard outside [4/32, 1]")
    if not pairs:
        probs.append("no candidate pairs (the generator plants near-duplicates)")
    return probs


def exact_groups(ctx, tbl) -> list[str]:
    """One row per distinct content: distinct hashes and kept ids, the
    group sizes add up to the corpus, and the planted exact duplicates
    form at least one group of two or more."""
    d = tbl.to_pydict()
    probs = equal("distinct hashes", len(set(d["content_hash"])), tbl.num_rows)
    probs += equal("distinct kept ids", len(set(d["keep_id"])), tbl.num_rows)
    probs += equal("documents in groups", sum(d["n_dups"]), ctx.manifest["rows"]["documents"])
    if max(d["n_dups"], default=0) < 2:
        probs.append("no duplicate group (the generator plants exact duplicates)")
    return probs


def topk(ctx, tbl) -> list[str]:
    """Exact cosine top-5 of the query vectors (vec_id < 8), self-matches
    excluded: each query's neighbors, in rank order, have the five best
    cosines a numpy recomputation finds (to 1e-9, so that float
    near-ties may order either way)."""
    import numpy as np

    e = pq.read_table(os.path.join(ctx.data, "embeddings.parquet")).to_pydict()
    X = np.array(e["embedding"], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    row = {int(v): i for i, v in enumerate(e["vec_id"])}
    got: dict[int, list[int]] = {}
    d = tbl.to_pydict()
    for q, n, _ in sorted(zip(d["query_id"], d["neighbor_id"], d["rank"]),
                          key=lambda x: (x[0], x[2])):
        got.setdefault(q, []).append(n)
    probs = equal("queries", sorted(got), [v for v in sorted(row) if v < 8])
    for q, ns in got.items():
        cos = X @ X[row[q]]
        best = np.sort(np.delete(cos, row[q]))[::-1][:5]
        mine = np.array([cos[row[n]] for n in ns])
        if q in ns or len(set(ns)) != len(ns) or mine.shape != best.shape \
                or not np.allclose(mine, best, rtol=0, atol=1e-9):
            probs.append(f"query {q}: neighbors {ns} are not the top 5")
    return probs


def bm25(ctx, tbl) -> list[str]:
    """At most 20 distinct documents in (score desc, id asc) order."""
    d = tbl.to_pydict()
    ids, scores = d["doc_id"], d["score"]
    probs = [] if 0 < len(ids) <= 20 else [f"{len(ids)} hits"]
    probs += equal("distinct ids", len(set(ids)), len(ids))
    keys = [(-s, i) for s, i in zip(scores, ids)]
    if keys != sorted(keys):
        probs.append("not ordered by (score desc, doc_id)")
    return probs


def text_lines(path: str) -> int:
    """Records a line reader finds in the text files under ``path``:
    Spark ends each row with \\n and ER7 separates segments with \\r."""
    n = 0
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f, "rb") as fh:
            data = fh.read()
        n += data.count(b"\n") + data.count(b"\r") - data.count(b"\r\n")
    return n


def shards(ctx, sql: str, tbl) -> list[str]:
    """The rows read back from the training shards are exactly the rows
    of the curated corpus's SQL twin."""
    return compare(_Collected(tbl), ctx.duck.execute(sql).fetchdf())


def _lww_sql(ctx, last_day: int) -> str:
    """Last-writer-wins over batches 0..last_day: the target an upsert
    per day must hold."""
    legs = " UNION ALL ".join(
        f"SELECT *, {i} AS batch FROM read_parquet('{p}')"
        for i, p in enumerate(ctx.manifest["batches"][: last_day + 1])
    )
    return f"""
        SELECT window_start, event_type, n_events, total_value FROM (
            SELECT *, row_number() OVER (PARTITION BY window_start, event_type
                                         ORDER BY batch DESC) AS rn
            FROM ({legs})) WHERE rn = 1"""


def upsert_counts(ctx, day: int, tbl) -> list[str]:
    sql = f"""SELECT event_type, count(*) AS windows,
                     CAST(sum(n_events) AS BIGINT) AS n_events
              FROM ({_lww_sql(ctx, day)}) GROUP BY event_type"""
    return compare(_Collected(tbl), ctx.duck.execute(sql).fetchdf())


def days_covered(ctx, day: int) -> int:
    sql = f"SELECT count(DISTINCT CAST(window_start AS DATE)) FROM ({_lww_sql(ctx, day)})"
    return ctx.duck.execute(sql).fetchone()[0]


def upsert_target(ctx, tbl, last_day: int) -> list[str]:
    """The whole final target against DuckDB's recomputation."""
    return compare(_Collected(tbl), ctx.duck.execute(_lww_sql(ctx, last_day)).fetchdf())
