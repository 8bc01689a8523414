"""Output checks, computed apart from the engine: DuckDB over the
parquet files, networkx over the same edge lists, and the benchmark's
own bookkeeping of the decisions it asked for. Nothing here compares
against a stored copy of an earlier run's output.

The DuckDB and networkx computations run in the oracle process that
run.py starts (``Workload.ask``), so they import their libraries there
and never in the process whose memory the benchmark reports."""

from __future__ import annotations

import os


class CheckFailed(Exception):
    pass


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _scan(store_dir: str, table: str) -> str:
    """DuckDB table expression over a saved table: a single parquet file
    (fixtures) or a directory of part files, hive-partitioned for the
    engine's user_id-partitioned memories."""
    p = os.path.join(store_dir, f"{table}.parquet")
    if os.path.isfile(p):
        return f"read_parquet('{p}')"
    return f"read_parquet('{p}/**/*.parquet', hive_partitioning = true)"


class StoreFacts:
    """What a store on disk holds, read with DuckDB."""

    def __init__(self, store_dir: str):
        import duckdb

        con = duckdb.connect()
        mem = _scan(store_dir, "memories")
        rows = con.sql(
            f"SELECT id, user_id, expired_at IS NULL FROM {mem}"
        ).fetchall()
        self.live = {r[0] for r in rows if r[2]}
        self.user_live: dict[str, set] = {}
        self.user_all: dict[str, set] = {}
        for mid, user, live in rows:
            self.user_all.setdefault(user, set()).add(mid)
            if live:
                self.user_live.setdefault(user, set()).add(mid)
        self.history_rows = con.sql(
            f"SELECT count(*) FROM {_scan(store_dir, 'history')}"
        ).fetchone()[0]
        # memory id -> lower-cased names of the entities it HAS_ENTITY
        self.mentions: dict[int, set] = {}
        for mid, name in con.sql(
            f"SELECT e.src, lower(n.name) FROM {_scan(store_dir, 'edges')} e "
            f"JOIN {_scan(store_dir, 'entities')} n ON e.dst = n.id "
            "WHERE e.edge_type = 'HAS_ENTITY'"
        ).fetchall():
            self.mentions.setdefault(mid, set()).add(name)
        self.entity_names: dict[str, set] = {}
        for name, user in con.sql(
            f"SELECT lower(name), user_id FROM {_scan(store_dir, 'entities')}"
        ).fetchall():
            self.entity_names.setdefault(user, set()).add(name)
        con.close()

    def anchor_for(self, user: str, rng) -> str:
        """A seeded fixture entity of ``user`` that at least three of
        the user's live memories mention, so anchored searches have
        graph hits to return from the base store."""
        counts: dict[str, int] = {}
        for mid in self.user_live.get(user, ()):
            for name in self.mentions.get(mid, ()):
                counts[name] = counts.get(name, 0) + 1
        return rng.choice(sorted(n for n, c in counts.items() if c >= 3))


def check_search(rows, turn, user_ids: set, k: int, expect_id) -> None:
    """One search result against the bookkeeping of the session."""
    ids = [r["memory_id"] for r in rows]
    require(0 < len(ids) <= k, f"{turn.shape}: {len(ids)} rows for k={k}")
    require(len(set(ids)) == len(ids), f"{turn.shape}: duplicate ids")
    require(set(ids) <= user_ids,
            f"{turn.shape}: ids outside the user's scope {set(ids) - user_ids}")
    if expect_id is not None:
        require(expect_id in ids, f"{turn.shape}: memory {expect_id} not returned")
    if turn.shape == "anchored":  # past-tense hint: chronological order
        created = [r["created_at"] for r in rows]
        require(created == sorted(created), "anchored: not chronological")
    elif turn.shape != "diverse":
        scores = [r["score"] for r in rows]
        require(all(a >= b for a, b in zip(scores, scores[1:])),
                f"{turn.shape}: scores increase {scores}")


def check_saved(saved: StoreFacts, live: set, history_rows: int,
                graph_hits: list) -> None:
    """A saved session against the bookkeeping: the same live ids, the
    same number of history rows, and every anchored graph hit linked by
    HAS_ENTITY to one of its anchors in the saved edges."""
    require(saved.live == live,
            f"saved live ids differ: +{len(saved.live - live)} -{len(live - saved.live)}")
    require(saved.history_rows == history_rows,
            f"saved history rows {saved.history_rows} != {history_rows}")
    for mid, anchors in graph_hits:
        require(bool(saved.mentions.get(mid, set()) & set(anchors)),
                f"anchored hit {mid} not linked to {anchors}")


# ------------------------------------------------------------- graphs
def graph_oracles(store_dir: str, metric_types: tuple):
    """(RELATION edges, networkx pagerank of the metric edges, networkx
    connected components of the RELATION edges) of a store."""
    rel = edge_list(store_dir, ("RELATION",))
    return rel, nx_pagerank(edge_list(store_dir, metric_types)), nx_components(rel)


def edge_list(store_dir: str, types: tuple) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    q = ", ".join(f"'{t}'" for t in types)
    rows = con.sql(
        f"SELECT src, dst FROM {_scan(store_dir, 'edges')} "
        f"WHERE edge_type IN ({q})"
    ).fetchall()
    con.close()
    return rows


def nx_pagerank(edges: list[tuple]) -> dict:
    """networkx's pure-Python pagerank (``nx.pagerank`` itself needs
    scipy); parallel edges each carry weight, as in the engine."""
    import networkx as nx
    from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

    g = nx.MultiDiGraph()
    g.add_edges_from(edges)
    return _pagerank_python(g, alpha=0.85, tol=1e-12, max_iter=1000)


def nx_components(edges: list[tuple]) -> set:
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges)
    return {frozenset(c) for c in nx.connected_components(g)}


def check_close(got: dict, want: dict, tol: float, what: str) -> None:
    require(set(got) == set(want), f"{what}: node sets differ")
    require(None not in got.values(), f"{what}: missing values")
    worst = max((abs(got[n] - want[n]) for n in want), default=0.0)
    require(worst <= tol, f"{what}: max abs difference {worst:.3g} > {tol}")
