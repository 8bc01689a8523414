"""The two workloads. Each is a sequence of whole rounds; every round
makes the same calls into the engine in the same order, and the seed
only chooses the words, anchors and sampled sources.

A round starts from ``MemoryEngine.open`` of a private copy of a
fixture store, so no round inherits lineage, caches or writes from the
one before it: round N measures the same point on the write-growth
curve as round 1.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F

from grafeo_memory_spark.communities import connected_components
from grafeo_memory_spark.graph.algorithms import (
    betweenness_centrality,
    label_propagation,
    pagerank,
)
from grafeo_memory_spark.graph.metrics import METRIC_EDGE_TYPES
from grafeo_memory_spark.manager import MemoryEngine

import checks
from checks import StoreFacts, require
from inputs import (
    CLOCK_START_MS,
    FactEmbedder,
    FactExtractor,
    LogicalClock,
    ThresholdReconciler,
    session_turns,
)
from report import peak_rss_mb

USERS = ("alice", "bob", "carol", "default")
SEARCH_K = 5


class Workload:
    fixture: str

    def __init__(self, spark, tracer, oracle, seed: int, root: str, work: str):
        self.spark = spark
        self.tracer = tracer
        self.oracle = oracle
        self.seed = seed
        self.work = work
        self.base = os.path.join(work, "base")
        shutil.copytree(os.path.join(root, "fixtures", self.fixture), self.base)
        self.facts = self.ask(StoreFacts, self.base)
        #: (op kind, seconds) of every engine call, warm-up included
        self.ops: list[tuple[str, float]] = []
        #: per-round facts the traced run reports (plan size, bytes, ...)
        self.round_stats: list[dict] = []
        #: peak resident MiB of JVM + Python, read after the last timed call
        self.peak_mb: float | None = None

    def ask(self, fn, *args):
        """Run an oracle computation (DuckDB, networkx) in the oracle
        process, so its memory and time stay out of this one's."""
        return self.oracle.submit(fn, *args).result()

    def mark_peak(self) -> None:
        """Called after a timed round's last engine call, before the
        checks that run engine code of their own."""
        self.peak_mb = peak_rss_mb(self.spark)

    def _open(self, **policies) -> MemoryEngine:
        with self.tracer.span("manager.open") as sp:
            eng = MemoryEngine.open(
                self.spark, self.base,
                now_fn=LogicalClock(CLOCK_START_MS), **policies,
            )
        self.ops.append(("manager.open", sp["end"] - sp["start"]))
        return eng

    def timed(self, kind: str, fn, **attrs):
        with self.tracer.span(kind, **attrs) as sp:
            out = fn()
        self.ops.append((kind, sp["end"] - sp["start"]))
        return out


class AgentTurns(Workload):
    """Sessions against a copy of fixtures/sf0.01: four turns of
    add + search (inputs.session_turns), then save into a fresh
    directory."""

    fixture = "sf0.01"
    ops_per_round = 10  # open, 4 x (add, search), save

    def round(self, i: int, warm: bool) -> None:
        rng = random.Random(f"{self.seed}/agent/{i}")
        user = USERS[i % len(USERS)]
        turns = session_turns(rng, self.facts.anchor_for(user, rng))
        live = set(self.facts.live)
        user_live = set(self.facts.user_live[user])
        user_all = set(self.facts.user_all[user])
        events = 0
        ids: list = []  # memory id written (or repeated) by each turn
        adds: list = []  # seconds of each ADD turn's add
        graph_hits = []
        eng = self._open(embedder=FactEmbedder(), extractor=FactExtractor(),
                         reconciler=ThresholdReconciler())
        # the warm-up session is the open and the first turn, the calls
        # whose first use in a process costs seconds more (see README)
        for t, turn in enumerate(turns[:1] if warm else turns):
            res = self.timed("manager.add", lambda: eng.add(
                turn.text, user_id=user, session_id=f"s{i}"))
            if turn.kind == "ADD":
                require(len(res.added_ids) == 1 and not res.updated_ids
                        and not res.expired_ids, f"ADD turn gave {res}")
                ids.append(res.added_ids[0])
                adds.append(self.ops[-1][1])
                events += 1
            elif turn.kind == "NONE":
                require(res.skipped == 1 and not res.added_ids
                        and not res.updated_ids, f"NONE turn gave {res}")
                ids.append(ids[turn.ref])
            else:
                require(len(res.updated_ids) == 1
                        and res.expired_ids == [ids[turn.ref]],
                        f"UPDATE turn gave {res}, expected to expire {ids[turn.ref]}")
                ids.append(res.updated_ids[0])
                events += 1
            live = (live | set(res.added_ids) | set(res.updated_ids)) - set(res.expired_ids)
            user_live = (user_live | set(res.added_ids) | set(res.updated_ids)) - set(res.expired_ids)
            user_all |= set(res.added_ids) | set(res.updated_ids)

            def search():
                df = eng.search(turn.query, k=SEARCH_K, user_id=user,
                                anchor_entity_names=turn.anchors,
                                diverse=turn.shape == "diverse")
                with self.tracer.span("search.collect"):
                    return df.collect()

            rows = self.timed("manager.search", search, shape=turn.shape)
            scope = user_all if turn.shape == "anchored" else user_live
            expect = ids[t] if turn.shape in ("plain", "diverse") else None
            checks.check_search(rows, turn, scope, SEARCH_K, expect)
            if turn.anchors:
                graph_hits += [(r["memory_id"], turn.anchors) for r in rows
                               if r["source"] in ("graph", "both")]
        if warm:
            return
        # the last ADD over the first: the same call two writes later
        stats = {"growth": adds[-1] / adds[0]}
        if self.tracer.counting:
            plan = eng.store.memories._jdf.queryExecution().logical()
            stats["plan_nodes"] = len(plan.treeString().splitlines())
        out = os.path.join(self.work, f"save-{i}")
        self.timed("store.save", lambda: eng.save(out))
        self.mark_peak()
        stats["save_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                                  for d, _, fs in os.walk(out) for f in fs)
        self.round_stats.append(stats)
        saved = self.ask(StoreFacts, out)
        checks.check_saved(saved, live, self.facts.history_rows + events, graph_hits)
        shutil.rmtree(out)


#: loop sizes: enough rounds to show the per-round plan shape, few
#: enough that a timed round's two passes fit a run's time budget.
#: The warm-up round runs each loop for one round only: that compiles
#: every per-round plan shape.
PR_ITERS, LPA_ITERS, BC_SOURCES, BC_DEPTH = 2, 2, 12, 2
#: maintenance passes in a timed round: one pass is about 14 s of short
#: calls whose jitter does not average out within it; two are measured
#: as one round, so a run times exactly one round of each workload
PASSES = 2


class GraphRefresh(Workload):
    """Maintenance rounds against a copy of fixtures/sf0.001. A pass is
    open, refresh_metrics, detect_communities for one user, then the
    four distributed loop shapes (driver_edge_threshold=0) over the
    RELATION edges; a timed round is PASSES passes over successive
    users, the warm-up round one."""

    fixture = "sf0.001"
    ops_per_round = 7 * PASSES  # open, refresh, communities, 4 loops

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rel_edges, self.nx_pr, self.nx_cc = self.ask(
            checks.graph_oracles, self.base, METRIC_EDGE_TYPES)
        nodes = sorted({s for s, _ in self.rel_edges})
        self.sources = sorted(
            random.Random(f"{self.seed}/graph").sample(nodes, BC_SOURCES))
        #: loop name -> rows of its driver path; every pass runs the
        #: loops on the same edges and sources, so once a run is enough
        self.driver_rows: dict = {}

    def round(self, i: int, warm: bool) -> None:
        passes = [self._pass(USERS[(i + p) % len(USERS)], warm)
                  for p in range(1 if warm else PASSES)]
        if not warm:
            self.mark_peak()
            for done in passes:
                self._check(*done)

    def _pass(self, user: str, warm: bool) -> tuple:
        eng = self._open()
        rel = eng.store.edges.where(F.col("edge_type") == "RELATION")

        def refresh():
            eng.refresh_metrics()
            with self.tracer.span("graph.metrics.apply.collect"):
                return eng.store.memories.select(
                    "id", "_pagerank", "_betweenness", "_community").collect()

        metrics = self.timed("manager.refresh_metrics", refresh)
        infos = self.timed("manager.detect_communities",
                           lambda: eng.detect_communities(user_id=user))
        sym = rel.select(F.col("src").alias("node_id"), F.col("dst").alias("nbr"))
        sym = sym.unionByName(
            rel.select(F.col("dst").alias("node_id"), F.col("src").alias("nbr"))
        ).distinct()
        n = 1 if warm else None
        loops = {
            "pagerank": lambda t: pagerank(
                rel, max_iter=n or PR_ITERS, tol=0.0, driver_edge_threshold=t),
            "label_propagation": lambda t: label_propagation(
                rel, max_iter=n or LPA_ITERS, driver_edge_threshold=t),
            "betweenness_centrality": lambda t: betweenness_centrality(
                rel, sources=self.sources, max_depth=n or BC_DEPTH,
                driver_edge_threshold=t),
            "connected_components": lambda t: connected_components(
                sym, driver_edge_threshold=t),
        }
        out = {}
        for name, build in loops.items():
            def run():
                with self.tracer.span(f"graph.algorithms.{name}.build"):
                    df = build(0)
                with self.tracer.span(f"graph.algorithms.{name}.exec"):
                    return df.collect()

            out[name] = self.timed(f"graph.algorithms.{name}", run)
        return metrics, infos, out, user, loops

    def _check(self, metrics, infos, out, user, loops) -> None:
        # refresh_metrics: the cached _pagerank of every memory in the
        # metric graph is networkx's pagerank of that graph
        got = {r["id"]: r["_pagerank"] for r in metrics if r["id"] in self.nx_pr}
        checks.check_close(got, {n: self.nx_pr[n] for n in got}, 1e-6,
                           "refresh_metrics _pagerank vs networkx")
        require(all(r["_community"] is not None for r in metrics
                    if r["id"] in self.nx_pr), "refresh_metrics: missing _community")
        # communities: disjoint, >= 2 members, all of them this user's
        seen: set = set()
        names = self.facts.entity_names.get(user, set())
        for c in infos:
            members = {m.lower() for m in c["member_entities"]}
            require(len(members) >= 2, "community with < 2 members")
            require(not (members & seen), "communities overlap")
            require(members <= names, "community member of another user")
            seen |= members
        # loops: pagerank sums to 1 and every loop equals its driver path
        def driver(name, col):
            if name not in self.driver_rows:
                self.driver_rows[name] = loops[name](10**6).collect()
            return {r["node_id"]: r[col] for r in self.driver_rows[name]}

        pr = {r["node_id"]: r["pagerank"] for r in out["pagerank"]}
        require(abs(sum(pr.values()) - 1.0) < 1e-9, "pagerank does not sum to 1")
        checks.check_close(pr, driver("pagerank", "pagerank"), 1e-12,
                           "pagerank distributed vs driver")
        lpa = {r["node_id"]: r["community"] for r in out["label_propagation"]}
        require(lpa == driver("label_propagation", "community"),
                "label_propagation distributed != driver")
        bc = {r["node_id"]: r["betweenness"] for r in out["betweenness_centrality"]}
        checks.check_close(bc, driver("betweenness_centrality", "betweenness"),
                           1e-9, "betweenness distributed vs driver")
        comps: dict = {}
        for r in out["connected_components"]:
            comps.setdefault(r["component"], set()).add(r["node_id"])
        require({frozenset(c) for c in comps.values()} == self.nx_cc,
                "connected_components != networkx")


WORKLOADS = {"agent_turns": AgentTurns, "graph_refresh": GraphRefresh}
