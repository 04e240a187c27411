"""Output checks, run after the timed region.

Each check returns the number of operations whose output is wrong and
prints what differed to stderr. Expected values come from DuckDB over the
same generated parquet: exact where DuckDB can express the query (window
functions with the tie rule spelled out, ASOF JOIN, a per-request range
join), and a seeded sample of conversations checked row by row for
``top_n_frequency``. Near-dup checks every pair's Jaccard similarity and
that the cluster labels are the connected components of the pair graph.
"""

from __future__ import annotations

import sys
from collections import Counter

import duckdb
import numpy as np

import workloads as wl

TOL = 1e-6      # relative, for sums whose addition order differs


def _con(w) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for table in ("transcripts", "updates"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{w.path(table)}/*.parquet')")
    return con


def _close(col: str) -> str:
    return (f"NOT coalesce((e.{col} IS NULL AND g.{col} IS NULL) OR "
            f"abs(e.{col} - g.{col}) <= {TOL} * greatest(1, abs(e.{col})), false)")


def _diff(con, got_path: str, key: list[str], exact: list[str],
          close: list[str]) -> int:
    """Rows of ``expected`` and the parquet at ``got_path`` that differ."""
    on = " AND ".join(f"e.{k} = g.{k}" for k in key)
    conds = [f"e.{key[0]} IS NULL", f"g.{key[0]} IS NULL"]
    conds += [f"e.{c} IS DISTINCT FROM g.{c}" for c in exact]
    conds += [_close(c) for c in close]
    q = (f"SELECT count(*) FROM expected e FULL OUTER JOIN "
         f"read_parquet('{got_path}/*.parquet') g ON {on} "
         f"WHERE {' OR '.join(conds)}")
    n = con.execute(q).fetchone()[0]
    if n:
        sample = con.execute(q.replace("SELECT count(*)", "SELECT e.*, g.*")
                             + " LIMIT 3").fetchall()
        print(f"check: {n} rows differ in {got_path}: {sample}", file=sys.stderr)
    return n


def _top_n(tools: list, k: int) -> str:
    counts = Counter(t for t in tools if t is not None)
    keys = sorted(counts, key=lambda t: (-counts[t], t))[:k]
    return ",".join(keys + ["NULL"] * (k - len(keys)))


def _top_tools_sample(con, got_path: str, seed: int, n_conv: int = 100) -> int:
    """top_n_frequency(tool, 2) over the 30m frame, recomputed in Python
    for a seeded sample of conversations."""
    convs = [r[0] for r in con.execute(
        "SELECT DISTINCT conv_id FROM transcripts ORDER BY 1").fetchall()]
    pick = np.random.default_rng([seed, 11]).choice(
        len(convs), size=min(n_conv, len(convs)), replace=False)
    sample = sorted(convs[i] for i in pick)
    con.execute("CREATE OR REPLACE TEMP TABLE pick AS SELECT unnest(?) AS conv_id",
                [sample])
    rows = con.execute(
        "SELECT conv_id, turn_idx, ts_ms, tool FROM transcripts "
        "JOIN pick USING (conv_id) ORDER BY conv_id, ts_ms, turn_idx").fetchall()
    got = dict(((c, t), v) for c, t, v in con.execute(
        f"SELECT conv_id, turn_idx, top_tools FROM "
        f"read_parquet('{got_path}/*.parquet') JOIN pick USING (conv_id)").fetchall())
    bad, frame, conv = 0, [], None
    for c, t, ts, tool in rows:
        if c != conv:
            frame, conv = [], c
        frame.append((ts, tool))
        frame = [(s, x) for s, x in frame if s >= ts - 30 * wl.MIN]
        want = _top_n([x for _, x in frame], 2)
        if got.get((c, t)) != want:
            if not bad:
                print(f"check: top_tools {c}/{t}: want {want!r} got "
                      f"{got.get((c, t))!r}", file=sys.stderr)
            bad += 1
    return bad


def check_backfill(w) -> int:
    con = _con(w)
    con.execute(f"""
    CREATE TABLE expected AS
    WITH g AS (
      SELECT *, CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY conv_id ORDER BY ts_ms)
                     > {5 * wl.MIN} THEN 1 ELSE 0 END AS brk
      FROM transcripts),
    s AS (
      SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY ts_ms
                               ROWS UNBOUNDED PRECEDING) AS session_id FROM g),
    f AS (
      SELECT conv_id, turn_idx, ts_ms, role, CAST(session_id AS INT) AS session_id,
             sum(value) OVER r AS sum_30m, count(value) OVER r AS cnt_30m,
             min(value) OVER r AS min_30m, max(value) OVER r AS max_30m,
             lag(value) OVER (PARTITION BY conv_id ORDER BY ts_ms) AS prev_value
      FROM s
      WINDOW r AS (PARTITION BY conv_id ORDER BY ts_ms
                   RANGE BETWEEN {30 * wl.MIN} PRECEDING AND CURRENT ROW))
    SELECT f.*, u.cfg, u.weight
    FROM f ASOF LEFT JOIN updates u ON f.conv_id = u.conv_id AND f.ts_ms >= u.ts_ms
    """)
    wrong = 0
    for path in w.outputs:
        bad = _diff(con, path, wl.KEY,
                    ["ts_ms", "role", "session_id", "cnt_30m", "min_30m",
                     "max_30m", "prev_value", "cfg", "weight"], ["sum_30m"])
        bad += _top_tools_sample(con, path, w.seed)
        wrong += bad > 0
    return wrong


def check_skew(w) -> int:
    """Frames with equal timestamps ordered by turn_idx: a row sees rows
    with an older timestamp, and rows of its own timestamp up to itself."""
    con = _con(w)
    M30, M5 = 30 * wl.MIN, 5 * wl.MIN
    con.execute(f"""
    CREATE TABLE expected AS
    WITH b AS (
      SELECT conv_id, turn_idx, ts_ms, value, 0 AS is_u FROM transcripts
      UNION ALL
      SELECT conv_id, NULL, ts_ms, weight, 1 FROM updates),
    x AS (
      SELECT *,
        sum(value) FILTER (WHERE is_u = 0) OVER older30 AS o_sum,
        count(value) FILTER (WHERE is_u = 0) OVER older30 AS o_cnt,
        max(value) FILTER (WHERE is_u = 0) OVER older30 AS o_max,
        sum(value) FILTER (WHERE is_u = 0) OVER older5 AS o5_sum,
        count(value) FILTER (WHERE is_u = 0) OVER older5 AS o5_cnt,
        sum(value) FILTER (WHERE is_u = 1) OVER upd30 AS u_sum,
        count(value) FILTER (WHERE is_u = 1) OVER upd30 AS u_cnt
      FROM b
      WINDOW older30 AS (PARTITION BY conv_id ORDER BY ts_ms
                         RANGE BETWEEN {M30} PRECEDING AND 1 PRECEDING),
             older5 AS (PARTITION BY conv_id ORDER BY ts_ms
                        RANGE BETWEEN {M5} PRECEDING AND 1 PRECEDING),
             upd30 AS (PARTITION BY conv_id ORDER BY ts_ms
                       RANGE BETWEEN {M30} PRECEDING AND CURRENT ROW)),
    p AS (
      SELECT *,
        sum(value) OVER tie AS t_sum, count(value) OVER tie AS t_cnt,
        max(value) OVER tie AS t_max
      FROM x WHERE is_u = 0
      WINDOW tie AS (PARTITION BY conv_id, ts_ms ORDER BY turn_idx
                     ROWS UNBOUNDED PRECEDING))
    SELECT conv_id, turn_idx,
      coalesce(o_sum, 0) + t_sum AS sum_30m, o_cnt + t_cnt AS cnt_30m,
      greatest(coalesce(o_max, t_max), t_max) AS max_30m,
      value + coalesce(o5_sum, 0) AS sum_x5m, o5_cnt + 1 AS cnt_x5m,
      coalesce(o_sum, 0) + t_sum + coalesce(u_sum, 0) AS sum_u30m,
      o_cnt + t_cnt + u_cnt AS cnt_u30m
    FROM p
    """)
    return sum(
        _diff(con, path, wl.KEY, ["cnt_30m", "max_30m", "cnt_x5m", "cnt_u30m"],
              ["sum_30m", "sum_x5m", "sum_u30m"]) > 0
        for path in w.outputs)


def check_serve(w) -> int:
    """Each request row against its own conversation's history."""
    con = _con(w)
    reqs = [(i, *r) for i, r in enumerate(w.requests)]
    con.execute("CREATE TABLE req (i INT, conv_id VARCHAR, turn_idx INT, "
                "ts_ms BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO req VALUES (?, ?, ?, ?, ?)", reqs)
    want = {r[0]: r[1:] for r in con.execute(f"""
      SELECT r.i, r.conv_id, r.turn_idx, r.value + coalesce(sum(h.value), 0),
             1 + count(h.value), least(r.value, coalesce(min(h.value), r.value)),
             r.value * 2
      FROM req r LEFT JOIN transcripts h
        ON h.conv_id = r.conv_id AND h.ts_ms BETWEEN r.ts_ms - {30 * wl.MIN} AND r.ts_ms
      GROUP BY r.i, r.conv_id, r.turn_idx, r.value""").fetchall()}
    wrong = 0
    for i, got in enumerate(w.results):
        exp = want[i]
        ok = got is not None and (
            (got["conv_id"], got["turn_idx"], got["cnt_v"], got["min_v"],
             got["conv_id_r"], got["dbl_v"])
            == (exp[0], exp[1], exp[3], exp[4], exp[0], exp[5])
            and abs(got["sum_v"] - exp[2]) <= TOL * max(1.0, abs(exp[2])))
        if not ok:
            print(f"check: request {w.requests[i]}: want {exp} got {got}",
                  file=sys.stderr)
            wrong += 1
    return wrong


def _shingles(text: str, k: int) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def check_near_dup(w) -> int:
    import pyarrow.parquet as pq
    docs = pq.ParquetDataset(w.path("docs")).read().to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    k, thr = wl.LSH["shingle_k"], wl.LSH["threshold"]
    wrong = 0
    for out in w.outputs:
        pairs = pq.ParquetDataset(f"{out}/pairs.parquet").read().to_pydict()
        bad = 0
        parent = {d: d for d in text}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, j in zip(pairs["id_a"], pairs["id_b"], pairs["jaccard"]):
            sa, sb = _shingles(text[a], k), _shingles(text[b], k)
            true_j = len(sa & sb) / len(sa | sb)
            if not (a < b and true_j >= thr and abs(true_j - j) <= TOL):
                bad += 1
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)      # root = min doc id
        cl = pq.ParquetDataset(f"{out}/clusters.parquet").read().to_pydict()
        size = Counter(find(d) for d in text)
        label_to_root: dict = {}
        seen = set()
        for d, comp, canon, n in zip(cl["doc_id"], cl["component"],
                                     cl["is_canonical"], cl["cluster_size"]):
            root = find(d)
            if (d in seen or label_to_root.setdefault(comp, root) != root
                    or canon != (d == root) or n != size[root]):
                bad += 1
            seen.add(d)
        bad += len(text) - len(seen) + (len(set(label_to_root.values()))
                                        != len(label_to_root))
        if bad:
            print(f"check: near_dup {out}: {bad} bad pairs/labels", file=sys.stderr)
        wrong += bad > 0
    return wrong


CHECKS = {"backfill": check_backfill, "skew_backfill": check_skew,
          "serve": check_serve, "near_dup": check_near_dup}


def check(w) -> int:
    return CHECKS[w.name](w)
