"""Output checks for a benchmark run, run after the JVM has exited.

Each check entry the harness wrote is one of:
  equal       Spark's rows must equal DuckDB's answer to `sql` on the same
              parquet (columns compared by name, rows as a multiset,
              floats rounded to 4 decimals, as tools/check_oracle.py does)
  subset      Spark's pairs must all be in an exact set: another entry's
              DuckDB answer (`of` names it) or, for "exact_cosine", every
              embedding pair at cosine >= 0.95 by numpy brute force
  components  connected-component labels must equal union-find over the
              edges of the "input" entry with the same name + ".edges"
  verdict     decided in the JVM (e.g. indexed vs scan-time search)
"""
import math

import duckdb
import numpy as np

COSINE_THRESHOLD = 0.95


def _cell(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 4)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, bool):
        return int(v)
    if v is None or isinstance(v, (int, str)):
        return v
    return str(v)  # dates, decimals


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=lambda r: tuple(str(x) for x in r))


def _spark_rows(entry):
    rows = entry["rows"]
    cols = list(rows[0].keys()) if rows else []
    return cols, [[r[c] for c in cols] for r in rows]


def _duck(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, [list(r) for r in cur.fetchall()]


def _exact_cosine_pairs(con):
    ids, vecs = zip(*con.execute("SELECT vec_id, embedding FROM embeddings").fetchall())
    v = np.array(vecs, dtype=np.float32).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sim = v @ v.T
    ids = np.array(ids)
    a, b = np.nonzero(np.triu(sim >= COSINE_THRESHOLD - 1e-4, k=1))
    return {(int(ids[i]), int(ids[j])): float(sim[i, j]) for i, j in zip(a, b)}


def _components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def run(entries, tables):
    """Returns [(entry name, op key, ok, detail)] for every check."""
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    by_name = {e["name"]: e for e in entries}
    results = []
    for e in entries:
        mode, name = e["mode"], e["name"]
        key = e.get("key", name)
        try:
            if mode == "input":
                continue
            if mode == "verdict":
                ok, detail = bool(e["ok"]), e.get("detail", "")
            elif mode == "equal":
                want = _norm(*_duck(con, e["sql"]))
                got = _norm(*_spark_rows(e))
                # no Spark rows carry no column names to compare
                ok = got == want if e["rows"] else not want[1]
                detail = (f"spark {len(got[1])} rows {got[1][:2]} "
                          f"vs duckdb {len(want[1])} rows {want[1][:2]}")
            elif mode == "subset":
                pairs = {(r["id_a"], r["id_b"]) for r in e["rows"]}
                if e["of"] == "exact_cosine":
                    exact = _exact_cosine_pairs(con)
                    bad = [r for r in e["rows"] if (r["id_a"], r["id_b"]) not in exact
                           or abs(exact[(r["id_a"], r["id_b"])] - r["score"]) > 1e-4]
                    ok, detail = not bad, f"{len(bad)} of {len(pairs)} pairs not exact: {bad[:3]}"
                else:
                    cols, rows = _duck(con, by_name[e["of"]]["sql"])
                    ia, ib = cols.index("id_a"), cols.index("id_b")
                    exact = {(r[ia], r[ib]) for r in rows}
                    missing = sorted(pairs - exact)
                    ok = not missing
                    detail = f"{len(missing)} of {len(pairs)} pairs not in {e['of']}: {missing[:3]}"
            elif mode == "components":
                edges = [(r["id_a"], r["id_b"]) for r in by_name[name + ".edges"]["rows"]]
                want = _components(edges)
                got = {r["id"]: r["cluster"] for r in e["rows"]}
                ok = got == want
                detail = f"{len(got)} labelled ids vs {len(want)} expected"
            else:
                ok, detail = False, f"unknown check mode {mode}"
        except Exception as ex:  # a check that cannot run has failed
            ok, detail = False, f"{type(ex).__name__}: {ex}"
        results.append((name, key, ok, "" if ok else detail))
    return results
