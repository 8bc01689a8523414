"""Seeded inputs and the deterministic policies the engine is driven with.

The engine receives only what is generated here: conversation turns,
search queries, and three policy objects in place of the LLM calls
(embedder, extractor, reconciler). Everything is a pure function of the
workload seed, so the same seed gives the same inputs on every run.

A fact is one sentence ``"<Subject> <verb> <Object>."``. The fact
embedder places facts that share (subject, relation) close together
(cosine 0.89 or more) and every other pair at a hash-random angle, so the
engine's own reconcile probe finds an earlier fact about the same
subject and relation, and the threshold reconciler can turn it into an
UPDATE without any knowledge the engine did not hand it.
"""

from __future__ import annotations

import hashlib
import math
import random
import re
from dataclasses import dataclass

DIMS = 16  # the fixtures' embedding width

#: relation phrase -> (relation_type, object entity_type, objects)
RELATIONS = {
    "lives in": ("LIVES_IN", "location", (
        "Lisbon", "Osaka", "Quito", "Tromso", "Accra", "Hobart", "Tbilisi",
        "Valparaiso", "Gdansk", "Cusco", "Kigali", "Reykjavik",
    )),
    "works at": ("WORKS_AT", "organization", (
        "Orchid Labs", "Harbor Freight Co", "Summit Analytics",
        "Lantern Press", "Quarry Robotics", "Cipher Health",
        "Beacon Foods", "Compass Mills", "Violin Works", "Ledger Bank",
    )),
    "likes": ("LIKES", "concept", (
        "sourdough", "bouldering", "chess", "opera", "kayaking", "origami",
        "astronomy", "jazz", "gardening", "cycling", "poetry", "pottery",
    )),
}
FIRST = (
    "Nadia", "Tomas", "Ines", "Kofi", "Mei", "Arjun", "Lena", "Omar",
    "Sofia", "Yuki", "Pavel", "Amara", "Diego", "Hana", "Ravi", "Zoe",
)
LAST = (
    "Okafor", "Lindqvist", "Moreau", "Tanaka", "Castillo", "Novak",
    "Haddad", "Sato", "Brennan", "Iyer", "Kowalski", "Mensah",
)
_FACT = re.compile(
    r"^(?P<s>.+?) (?P<v>" + "|".join(RELATIONS) + r") (?P<o>.+)\.$"
)


def parse_fact(text: str):
    """(subject, verb, object) of a generated fact, else None."""
    m = _FACT.match(text or "")
    return (m["s"], m["v"], m["o"]) if m else None


def norm_name(name: str) -> str:
    """The engine's stored entity-name form (lowercase, underscored)."""
    return "_".join(name.strip().lower().split())


def _unit(key: str) -> list[float]:
    raw = []
    counter = 0
    while len(raw) < DIMS:
        h = hashlib.sha256(f"{key}\x00{counter}".encode()).digest()
        raw += [int.from_bytes(h[i:i + 4], "big") / 2**31 - 1.0
                for i in range(0, 32, 4)]
        counter += 1
    raw = raw[:DIMS]
    n = math.sqrt(sum(x * x for x in raw)) or 1.0
    return [x / n for x in raw]


class FactEmbedder:
    """EmbeddingClient: facts embed as topic(subject, verb) + 0.25 *
    detail(object); any other text as a hash-random unit vector."""

    dimensions = DIMS

    def embed(self, texts):
        out = []
        for t in texts:
            f = parse_fact(t)
            if f is None:
                out.append(_unit(t))
                continue
            topic = _unit(f"{f[0]}|{f[1]}")
            detail = _unit(f[2])
            v = [a + 0.25 * b for a, b in zip(topic, detail)]
            n = math.sqrt(sum(x * x for x in v))
            out.append([x / n for x in v])
        return out


class FactExtractor:
    """Extractor: one fact per message, subject and object as entities,
    the verb as a typed relation."""

    def extract(self, text, prompt=None):
        f = parse_fact(text)
        if f is None:
            return {"facts": [text], "entities": [], "relations": []}
        s, v, o = f
        rel, otype = RELATIONS[v][:2]
        return {
            "facts": [text],
            "entities": [{"name": s, "entity_type": "person"},
                         {"name": o, "entity_type": otype}],
            "relations": [{"source": s, "target": o, "relation_type": rel}],
        }


#: cosine at or above which a candidate about the same subject and
#: relation is superseded. Every same-(subject, verb) pair the
#: vocabulary can generate sits at 0.89 or above; the (subject, verb)
#: key guard rules out unrelated memories that cross it by chance.
UPDATE_THRESHOLD = 0.8


class ThresholdReconciler:
    """Reconciler over the engine's probe candidates: an identical text
    is NONE, a same-(subject, verb) candidate at or above
    UPDATE_THRESHOLD is UPDATE (the best-scoring one), else ADD."""

    def reconcile(self, facts, candidates, prompt=None):
        decisions = []
        for fact in facts:
            if any(c["text"] == fact for c in candidates):
                decisions.append({"action": "NONE"})
                continue
            key = (parse_fact(fact) or (None, None))[:2]
            same = [
                c for c in candidates
                if c["score"] >= UPDATE_THRESHOLD
                and (parse_fact(c["text"]) or (None, None))[:2] == key
            ]
            if key[0] is not None and same:
                best = max(same, key=lambda c: (c["score"], -c["id"]))
                decisions.append({"action": "UPDATE", "text": fact,
                                  "target_memory_id": best["id"]})
            else:
                decisions.append({"action": "ADD", "text": fact})
        return {"decisions": decisions}


class LogicalClock:
    """now_fn: a fixed start that advances one second per reading, so
    created_at/now_ms are identical across runs of one seed."""

    def __init__(self, start_ms: int):
        self._t = start_ms

    def __call__(self) -> int:
        self._t += 1000
        return self._t


#: the clock starts one day after the newest fixture memory
CLOCK_START_MS = 1_761_700_000_000


@dataclass
class Turn:
    kind: str  # ADD / NONE / UPDATE: the decision the reconciler must make
    text: str
    shape: str  # plain / anchored / diverse
    query: str
    anchors: list | None
    ref: int | None  # index of the earlier turn this one repeats/updates


def session_turns(rng: random.Random, base_anchor: str) -> list[Turn]:
    """One session of four turns and three writes, by position:

    1. ADD fact A (plain exact-text search);
    2. A again, verbatim: NONE (a past-tense search anchored on A's
       subject and on a fixture entity, so it takes the graph branch,
       includes expired versions and sorts chronologically);
    3. supersede A: UPDATE (diverse search);
    4. ADD fact B about another subject (plain search).

    Turn 4 is an ADD like turn 1 but made two writes later, so the pair
    shows how an add slows as the lineage grows. The decision and
    search shape of each turn depend only on its position, so every run
    does the same mix whatever the seed; the seed picks the words and
    the fixture anchor."""
    people = rng.sample([(f, s) for f in FIRST for s in LAST], 2)
    facts = []
    for first, last in people:
        verb = rng.choice(sorted(RELATIONS))
        o1, o2 = rng.sample(RELATIONS[verb][2], 2)
        facts.append((f"{first} {last}", f"{first} {last} {verb} {o1}.",
                      f"{first} {last} {verb} {o2}."))
    (a, a1, a2), (_, b1, _) = facts
    return [
        Turn("ADD", a1, "plain", a1, None, None),
        Turn("NONE", a1, "anchored", f"what happened with {a} previously",
             [norm_name(a), base_anchor], 0),
        Turn("UPDATE", a2, "diverse", a2, None, 0),
        Turn("ADD", b1, "plain", b1, None, None),
    ]
