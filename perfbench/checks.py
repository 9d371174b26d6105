"""Output checks, run after the timed phase.

Nothing here compares against a stored copy of an earlier output.  Reads
over parquet are recomputed by DuckDB on the same files; the dedup ingest
and the sketch stores are checked for the properties their methods
guarantee, against exact answers computed here in Python.  Each check
returns a list of failure messages, one per failed operation.
"""

from __future__ import annotations

import datetime as _dt
import json
import math

import numpy as np
import pyarrow.parquet as pq

REL_TOL = 1e-9      # floats whose value depends on summation order
JACCARD = 0.8       # the near-dup threshold of the dedup operators


def dump_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def same(a, b) -> bool:
    """Exact for integers, strings, booleans and timestamps; floats to
    ``REL_TOL`` relative; containers element by element."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def _duck(views: dict[str, str]):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}')")
    return con


def _rows(con, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _one(con, sql: str):
    return con.execute(sql).fetchone()[0]


# ---------------------------------------------------------------------------
# analyst
# ---------------------------------------------------------------------------


def _analyst_expected(con, op, c):
    n = op.name
    if n == "scalar.len":
        return _one(con, f"SELECT count(*) FROM orders "
                         f"WHERE o_totalprice > {c['len']}")
    if n == "scalar.avg":
        return _one(con, f"SELECT avg(o_totalprice) FROM orders WHERE "
                         f"o_totalprice > {c['avg']} "
                         f"AND o_orderstatus = '{c['status']}'")
    if n == "scalar.min":
        return _one(con, f"SELECT min(l_extendedprice) FROM lineitem "
                         f"WHERE l_quantity > {c['min']}")
    if n == "scalar.max":
        return _one(con, f"SELECT max(l_extendedprice) FROM lineitem "
                         f"WHERE l_discount < {c['max']}")
    if n == "scalar.median":
        return _one(con, f"SELECT median(l_quantity) FROM lineitem "
                         f"WHERE l_extendedprice > {c['median']}")
    if n == "scalar.sum":
        return _one(con, f"SELECT sum(o_totalprice) FROM orders "
                         f"WHERE o_custkey < {c['sum']}")
    if n == "scalar.describe":
        keys = ("len", "count", "min", "max", "sum", "avg", "median")
        row = con.execute(
            "SELECT count(*), count(c_acctbal), min(c_acctbal), "
            "max(c_acctbal), sum(c_acctbal), avg(c_acctbal), "
            "median(c_acctbal) FROM customer "
            f"WHERE c_acctbal > {c['describe']}").fetchone()
        return dict(zip(keys, row))
    if n == "group.value_counts":
        return dict(_rows(con, "SELECT c_mktsegment, count(*) FROM customer "
                               f"WHERE c_acctbal > {c['vc']} AND "
                               "c_mktsegment IS NOT NULL GROUP BY 1 "
                               "ORDER BY 2 DESC, 1"))
    if n == "group.unique":
        return sorted(r[0] for r in _rows(
            con, "SELECT DISTINCT p_brand FROM part "
                 f"WHERE p_retailprice > {c['unique']}"))
    if n == "group.mode":
        return dict(_rows(con, "WITH g AS (SELECT o_orderpriority AS v, "
                               "count(*) AS n FROM orders WHERE "
                               f"o_totalprice > {c['mode']} GROUP BY 1) "
                               "SELECT v, n FROM g WHERE n = "
                               "(SELECT max(n) FROM g)"))
    if n == "table.sort_limit":
        return _rows(con, f"SELECT * FROM orders WHERE o_totalprice > "
                          f"{c['sort']} ORDER BY o_totalprice DESC LIMIT 6")
    if n == "iloc.slice":
        return _rows(con, f"SELECT * FROM orders WHERE o_totalprice > "
                          f"{c['iloc']} LIMIT 10 OFFSET {c['iloc_at']}")
    if n.startswith("query."):
        return _rows(con, op.info["sql"])
    raise KeyError(n)


def _quantile_ok(rows, values: np.ndarray) -> bool:
    """Each served bracket (q_ppm, bin, bin_lo, bin_hi, n) holds the exact
    value of rank ceil(q * n)."""
    v = np.sort(values)
    n = len(v)
    if [r[0] for r in rows] != [round(q * 1e6) for q in (0.5, 0.9, 0.99)]:
        return False
    for q_ppm, _, lo, hi, n_served in rows:
        if n_served != n:
            return False
        x = v[-(-q_ppm * n // 1_000_000) - 1]
        if (lo is not None and x < lo) or (hi is not None and x >= hi):
            return False
    return True


def analyst(meta: dict, done: list) -> list[str]:
    star = meta["db_dir"]
    con = _duck({t: f"{star}/{t}.parquet" for t in
                 ("orders", "lineitem", "customer", "part", "nation")})
    fails = []
    trickle = [pq.read_table(p, columns=["value"])["value"].to_numpy()
               for p in meta["trickle"]]
    for op in done:
        if op.kind != "read":
            continue
        r = op.info["round"]
        if op.repeat_of is not None:
            ok = same(op.result, op.repeat_of.result)
        elif op.name == "streaming.serve":
            n_b = (r + 1) * len(trickle) // meta["rounds"]
            ok = _quantile_ok(op.result, np.concatenate(trickle[:n_b]))
        else:
            want = _analyst_expected(con, op, op.info["c"])
            got = op.result
            if op.name == "group.unique":
                got = sorted(got)
            if op.name == "group.value_counts":
                ok = same(got, want) and list(got) == list(want)
            elif op.name == "table.sort_limit":
                prices = [w[3] for w in want]
                # ties at the cut leave the row choice open: compare prices
                tied = len(set(prices)) < len(prices)
                ok = (same([g[3] for g in got], prices[:5]) if tied
                      else same(got, want[:5]))
            else:
                ok = same(got, want)
        if not ok:
            fails.append(f"analyst round {r} {op.name}: got {op.result!r}")
    return fails


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

# Exact 3-shingle Jaccard pairs through an inverted index (shingle join):
# the same answer as the registry's all-pairs oracle, in time that grows
# with shared shingles instead of with the square of the corpus.
_EXACT_PAIRS = """
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
           FROM documents),
s AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3 THEN
        [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         for i in range(1, len(ws) - 1)]
      ELSE [array_to_string(ws, ' ')] END) AS sh FROM w),
n AS (SELECT doc_id, len(sh) AS n FROM s),
p AS (SELECT doc_id, unnest(sh) AS g FROM s),
x AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, inter::DOUBLE / (na.n + nb.n - inter) AS jaccard
FROM x JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
WHERE inter::DOUBLE / (na.n + nb.n - inter) >= 0.8
"""


def _components(pairs) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _sorted(rows):
    return sorted(rows, key=lambda t: tuple(
        (x is None, x if x is not None else 0) for x in t))


def _shingles(text: str) -> set[str]:
    ws = text.split()
    if len(ws) < 3:
        return {" ".join(ws)}
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def curate(meta: dict, done: list, corpus_dir: str, micro: int, k: int,
           ppm: int) -> list[str]:
    import pandas_db_spark.queries as Q
    fails = []
    cons: dict[str, object] = {}
    serves = [op for op in done if op.name.startswith("serve.")]
    for op in done:
        if op.kind != "read" or op in serves:
            continue
        path = op.info["corpus"]
        if path not in cons:
            cons[path] = _duck({"documents": f"{path}/documents.parquet"})
        con = cons[path]
        got = op.result
        if op.name == "dedup_minhash":
            want = _rows(con, _EXACT_PAIRS)
            ok = same(_sorted(got), _sorted(want))
        elif op.name == "dedup_components":
            comp = _components(_rows(con, _EXACT_PAIRS))
            ok = dict(got) == comp and len(got) == len(comp)
        else:
            want = _rows(con, Q.REGISTRY[op.name][1])
            ok = same(_sorted(got), _sorted(want))
        if not ok:
            fails.append(f"curate round {op.info['round']} {op.name}: "
                         f"{len(got)} rows differ from DuckDB")
    return (fails + _dedup_ingest(meta, corpus_dir)
            + _sketch_serves(meta, serves, micro, k, ppm))


def _dedup_ingest(meta: dict, corpus_dir: str) -> list[str]:
    import duckdb
    with open(meta["offered_path"]) as f:
        data = json.load(f)
    offered = {int(k): v for k, v in data["offered"].items()}
    planted = {int(k) for k in data["planted"]}
    kept = {r[0] for r in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{corpus_dir}/**/*.parquet')"
    ).fetchall()}
    dropped = set(offered) - kept
    fails = [f"dedup ingest admitted planted duplicate {d}"
             for d in sorted(planted - dropped)]
    if not kept <= set(offered):
        fails.append("dedup ingest corpus holds documents never offered")
    kept_sh = [_shingles(offered[k]) for k in kept]
    for d in sorted(dropped):
        sh = _shingles(offered[d])
        if not any(_jaccard(sh, k) >= JACCARD for k in kept_sh):
            fails.append(f"dedup ingest dropped {d} with no surviving "
                         f"document at Jaccard >= {JACCARD}")
    return fails


# ---------------------------------------------------------------------------
# sketch stores
# ---------------------------------------------------------------------------


def _counts(paths: list[str]) -> dict[str, int]:
    out: dict[str, int] = {}
    for p in paths:
        for text in pq.read_table(p)["text"].to_pylist():
            for t in text.split():
                out[t] = out.get(t, 0) + 1
    return out


def _tvd_num(ca: dict, cb: dict) -> tuple[int, int, int]:
    na, nb = sum(ca.values()), sum(cb.values())
    num = sum(abs(ca.get(t, 0) * nb - cb.get(t, 0) * na)
              for t in set(ca) | set(cb))
    return num, na, nb


def _sketch_serves(meta: dict, serves: list, micro: int, k: int,
                   ppm: int) -> list[str]:
    """Serve results against exact token counts of the crawl batches
    folded in so far."""
    fails = []
    ref = _counts([meta["reference"]])
    per_batch = [_counts([p]) for p in meta["crawl"]]
    for op in serves:
        r = op.info["round"]
        n_b = (r + 1) * micro
        cum: dict[str, int] = {}
        for c in per_batch[:n_b]:
            for t, v in c.items():
                cum[t] = cum.get(t, 0) + v
        n_tok, n_dist = sum(cum.values()), len(cum)
        res = op.result
        if op.name == "serve.heavy_hitters":
            top, (bid, n_tokens, err_ub) = res
            ok = (bid == n_b - 1 and n_tokens == n_tok and len(top) == 20
                  and all(c_low <= cum.get(t, 0) <= c_low + err_ub
                          for t, c_low in top))
        elif op.name == "serve.distinct":
            (_, n_tokens, est), = res
            ok = (n_tokens == n_tok
                  and abs(est - n_dist) <= 4 * 1.04 / 64 * n_dist)
        elif op.name == "serve.kmv":
            row = res[0]
            est, n_tokens = row[3], row[4]
            ok = n_tokens == n_tok and (
                est == n_dist if n_dist < k
                else abs(est - n_dist) <= 4 / math.sqrt(k - 2) * n_dist)
        elif op.name == "serve.drift":
            alerts, history = res
            want, run = [], {}
            for c in per_batch[:n_b]:
                for t, v in c.items():
                    run[t] = run.get(t, 0) + v
                want.append(_tvd_num(run, ref))
            # compaction folds batch ids into one partition, so rows are
            # matched on their cumulative token count, which only grows
            got = sorted((h[2], h[3], h[1]) for h in history)
            exp = sorted((na, nb, num) for num, na, nb in want)
            alert_want = sorted(na for num, na, nb in want
                                if num * 1_000_000 > ppm * 2 * na * nb)
            ok = (got == exp
                  and sorted(a[2] for a in alerts) == alert_want)
        else:
            raise KeyError(op.name)
        if not ok:
            fails.append(f"curate round {r} {op.name}: got {res!r}"[:300])
    return fails
