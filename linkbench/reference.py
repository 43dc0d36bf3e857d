"""Engine-free reference results the benchmark checks every call against.

Nothing here imports pyspark or giraph_spark: PageRank, WCC and LPA are
replayed in numpy / plain Python, triangles and the corpus edge count are
recomputed by DuckDB. Each ``check_*`` returns ``(ok, detail)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

PAGERANK_ATOL = 1e-6


def _dense(src: np.ndarray, dst: np.ndarray):
    """Sorted vertex ids plus dense indices of each edge's endpoints."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(src, dst, supersteps: int, damping: float = 0.85):
    """Power iteration in the engine's mass-N form: every rank starts at
    1.0 and one superstep computes
    ``d * (in-messages + sink mass / N) + (1 - d) * total mass / N``,
    with the sink and total mass taken from the previous ranks."""
    ids, s, d = _dense(src, dst)
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    sink = outdeg == 0
    r = np.ones(n)
    for _ in range(supersteps):
        msg = np.bincount(d, weights=r[s] / outdeg[s], minlength=n)
        r = damping * (msg + r[sink].sum() / n) + (1.0 - damping) * r.sum() / n
    return ids, r


def components(src, dst):
    """Union-find over the undirected graph; label = smallest id in the
    component (ids are sorted, so the smallest dense index is the root)."""
    ids, s, d = _dense(src, dst)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(s.tolist(), d.tolist()):
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    roots = np.fromiter((find(x) for x in range(len(ids))), dtype=np.int64, count=len(ids))
    return ids, ids[roots]


def label_propagation(src, dst, supersteps: int):
    """Synchronous LPA on the symmetrized, deduplicated graph: each vertex
    with in-neighbours takes the most frequent neighbour label, the
    smaller label winning ties; labels start as the vertex's own id."""
    ids, s, d = _dense(src, dst)
    pairs = np.unique(
        np.stack([np.concatenate([s, d]), np.concatenate([d, s])], axis=1), axis=0
    )
    ps, pd_ = pairs[:, 0], pairs[:, 1]
    lab = ids.copy()
    for _ in range(supersteps):
        lv = lab[ps]
        order = np.lexsort((lv, pd_))
        dd, ll = pd_[order], lv[order]
        head = np.ones(len(dd), dtype=bool)
        head[1:] = (dd[1:] != dd[:-1]) | (ll[1:] != ll[:-1])
        starts = np.flatnonzero(head)
        counts = np.diff(np.append(starts, len(dd)))
        gd, gl = dd[starts], ll[starts]
        best = np.lexsort((gl, -counts, gd))
        gd, gl = gd[best], gl[best]
        first = np.ones(len(gd), dtype=bool)
        first[1:] = gd[1:] != gd[:-1]
        lab = lab.copy()
        lab[gd[first]] = gl[first]
    return ids, lab


_TRIANGLES_SQL = """
WITH e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM edges_in WHERE src <> dst),
u AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT x, count(*) AS k FROM u GROUP BY x),
o AS (SELECT u.x, u.y FROM u JOIN deg dx ON dx.x = u.x JOIN deg dy ON dy.x = u.y
      WHERE dx.k < dy.k OR (dx.k = dy.k AND u.x < u.y)),
t AS (SELECT o1.x AS p, o1.y AS q, o2.y AS r
      FROM o o1 JOIN o o2 ON o1.x = o2.x AND o1.y < o2.y
      JOIN u ON u.x = o1.y AND u.y = o2.y),
c AS (SELECT p AS id FROM t UNION ALL SELECT q FROM t UNION ALL SELECT r FROM t)
SELECT id, count(*) AS triangles FROM c GROUP BY id
"""


def triangles(con, src, dst):
    """Per-vertex triangle counts (vertices in at least one triangle) and
    the number of vertices of the simple undirected graph, by DuckDB."""
    con.register("edges_in", pd.DataFrame({"src": src, "dst": dst}))
    try:
        counts = con.execute(_TRIANGLES_SQL).df()
        n_vertices = con.execute(
            "SELECT count(DISTINCT x) FROM (SELECT src AS x FROM edges_in WHERE src <> dst"
            " UNION ALL SELECT dst FROM edges_in WHERE src <> dst)"
        ).fetchone()[0]
    finally:
        con.unregister("edges_in")
    return counts, int(n_vertices)


def corpus(con, parquet_dir: str):
    """(url, text) per page and the link-graph edge count, recomputed with
    DuckDB's ``regexp_extract_all`` from the same parquet files: hrefs
    resolved against the page origin, URLs lower-cased with fragment and
    one trailing slash stripped, self-links dropped, pairs deduplicated."""
    src = f"read_parquet('{parquet_dir}/*.parquet')"
    text = con.execute(f"SELECT url, text FROM {src}").df()
    n_edges = con.execute(f"""
        WITH pages AS (SELECT url, decode(html) AS h FROM {src}),
        links AS (SELECT url, unnest(regexp_extract_all(h, '<a\\s+href="([^"]*)"', 1)) AS href
                  FROM pages),
        res AS (SELECT url, CASE WHEN href LIKE '/%'
                    THEN regexp_extract(url, '^(https?://[^/]+)', 1) || href ELSE href END AS href
                FROM links),
        norm AS (SELECT regexp_replace(regexp_replace(lower(url), '#.*$', ''), '/$', '') AS s,
                        regexp_replace(regexp_replace(lower(href), '#.*$', ''), '/$', '') AS d
                 FROM res)
        SELECT count(*) FROM (SELECT DISTINCT s, d FROM norm WHERE s <> d)
    """).fetchone()[0]
    return text, int(n_edges)


def _by_id(ids, values) -> pd.Series:
    return pd.Series(np.asarray(values), index=np.asarray(ids, dtype=np.int64)).sort_index()


def _engine(df: pd.DataFrame, col: str) -> pd.Series:
    return pd.Series(df[col].to_numpy(), index=df["id"].to_numpy(dtype=np.int64)).sort_index()


def check_pagerank(ranks: pd.DataFrame, edges: pd.DataFrame, supersteps: int):
    ids, ref = pagerank(edges["src"].to_numpy(), edges["dst"].to_numpy(), supersteps)
    want, got = _by_id(ids, ref), _engine(ranks, "rank")
    if not want.index.equals(got.index):
        return False, f"vertex sets differ ({len(got)} vs {len(want)})"
    err = float(np.max(np.abs(got.to_numpy() - want.to_numpy()))) if len(want) else 0.0
    return err <= PAGERANK_ATOL, f"supersteps={supersteps} max_abs_err={err:.3g}"


def check_wcc(labels: pd.DataFrame, edges: pd.DataFrame):
    ids, ref = components(edges["src"].to_numpy(), edges["dst"].to_numpy())
    want, got = _by_id(ids, ref), _engine(labels, "component")
    ok = want.index.equals(got.index) and bool((want.to_numpy() == got.to_numpy()).all())
    return ok, f"vertices={len(got)} components={want.nunique()}"


def check_lpa(labels: pd.DataFrame, edges: pd.DataFrame, supersteps: int):
    ids, ref = label_propagation(edges["src"].to_numpy(), edges["dst"].to_numpy(), supersteps)
    want, got = _by_id(ids, ref), _engine(labels, "label")
    ok = want.index.equals(got.index) and bool((want.to_numpy() == got.to_numpy()).all())
    return ok, f"supersteps={supersteps} labels={want.nunique()}"


def check_triangles(con, counts: pd.DataFrame, edges: pd.DataFrame):
    ref, n_vertices = triangles(con, edges["src"].to_numpy(), edges["dst"].to_numpy())
    want = _engine(ref, "triangles").astype(np.int64)
    got = _engine(counts, "triangles").astype(np.int64)
    got_nz = got[got != 0]
    ok = (
        len(got) == n_vertices
        and want.index.equals(got_nz.index)
        and bool((want.to_numpy() == got_nz.to_numpy()).all())
    )
    return ok, f"vertices={len(got)} triangles={int(want.sum()) // 3}"


def check_corpus(con, parquet_dir: str, text: pd.DataFrame, n_edges: int):
    want_text, want_edges = corpus(con, parquet_dir)
    merged = want_text.merge(text, on="url", how="outer", indicator=True)
    bad_text = int(
        (merged["_merge"] != "both").sum()
        + (merged["text"] != merged["extracted_text"]).sum()
    )
    ok = bad_text == 0 and n_edges == want_edges
    return ok, f"pages={len(want_text)} text_mismatch={bad_text} edges={n_edges}/{want_edges}"
