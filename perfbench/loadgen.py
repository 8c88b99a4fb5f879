#!/usr/bin/env python3
"""Closed-loop SPARQL load generator for the ``serve`` workload.

    python3 perfbench/loadgen.py <plan.json> <out.json>

Each connection is a thread that sends its next request only after the
previous one returned, over the SPARQL 1.1 Protocol. The traffic is a
seeded shuffle of a fixed deck (90% reads, 10% writes):

* reference-API reads through ``SparqlQuadStore``: ``get_all_matches`` and
  ``get_first_match`` by file subject, ``OntologyGraph.get_individual``;
* raw analytic queries: a star BGP over one repo, a GROUP BY aggregate, an
  ``owl:sameAs+`` path and ASK;
* writes: a checked ``add_triples`` / ``delete_triples`` pair on a triple of
  the benchmark's own, so the store's contents are unchanged after each
  pair. Writes go one at a time (a client-side lock): the store has no
  commit lock, so two commits racing would both build the same next
  snapshot.

Every op's answer is normalized and hashed; the parent process compares the
hashes with answers computed from the oracle. The output holds one record
per op plus the process's peak RSS.
"""

from __future__ import annotations

import hashlib
import json
import random
import resource
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from ontograph_spark import vocab  # noqa: E402
from ontograph_spark.ontology.graph import OntologyGraph  # noqa: E402
from ontograph_spark.ontology.resources import Triple  # noqa: E402
from ontograph_spark.store.sparql_store import SparqlQuadStore  # noqa: E402

#: one connection's deck: 9 reads + 1 write pair, shuffled per pass; a
#: connection only stops between decks, so every run has the same mix
DECK = ["gam", "gam", "gfm", "ind", "ind", "star", "agg", "path", "ask", "write"]
READS = ("gam", "gfm", "ind", "star", "agg", "path", "ask")
#: ops that go through the reference-shaped client API
CLIENT_API = ("gam", "gfm", "ind", "write")

O = "https://ontograph.dev/code#"


def star_query(graph: str, repo_term: str) -> str:
    return (
        f"PREFIX o: <{O}> SELECT ?f ?path ?lang WHERE {{ GRAPH <{graph}> {{ "
        f"?f o:inRepo {repo_term} . ?f o:path ?path . ?f o:lang ?lang }} }}"
    )


def agg_query(graph: str) -> str:
    return (
        f"PREFIX o: <{O}> SELECT ?lang (COUNT(?f) AS ?n) WHERE {{ GRAPH <{graph}> "
        f"{{ ?f o:lang ?lang }} }} GROUP BY ?lang"
    )


def path_query(graph: str) -> str:
    return (
        f"SELECT ?m ?c WHERE {{ GRAPH <{graph}> {{ ?m <{vocab.OWL_SAME_AS}>+ ?c }} }}"
    )


def ask_query(graph: str, file_term: str, repo_term: str) -> str:
    return f"ASK {{ GRAPH <{graph}> {{ {file_term} <{O}inRepo> {repo_term} }} }}"


def digest(answer) -> str:
    return hashlib.sha256(json.dumps(answer, sort_keys=True).encode()).hexdigest()


def rows_of(result: dict) -> list[list[str]]:
    """SELECT result bindings as sorted rows of values, in head order."""
    names = result["head"]["vars"]
    return sorted(
        [b.get(v, {}).get("value", "") for v in names]
        for b in result["results"]["bindings"]
    )


class CountingClient(SparqlQuadStore):
    """A SparqlQuadStore that counts its HTTP requests and, when traced,
    records one span per request."""

    def __init__(self, uri, url, traced=False):
        super().__init__(uri, url)
        self.requests = 0
        self.traced = traced
        self.spans: list[tuple[float, float]] = []

    def _timed(self, fn, sparql):
        self.requests += 1
        t0 = time.perf_counter()
        try:
            return fn(sparql)
        finally:
            if self.traced:
                self.spans.append((t0, time.perf_counter()))

    def _execute_query(self, sparql):
        return self._timed(super()._execute_query, sparql)

    def _execute_update(self, sparql):
        return self._timed(super()._execute_update, sparql)


class Connection:
    def __init__(self, plan: dict, conn: int, write_lock, traced: bool):
        self.plan = plan
        self.conn = conn
        self.rng = random.Random(plan["seed"] * 1000 + conn)
        self.write_lock = write_lock
        self.client = CountingClient(plan["graph"], plan["url"], traced)
        self.graph = OntologyGraph(self.client)
        self.writes = 0
        self.records: list[dict] = []

    def run_op(self, kind: str) -> dict:
        p, g = self.plan, self.plan["graph"]
        c = self.client
        key = None
        if kind in ("gam", "gfm", "ind", "ask"):
            key = self.rng.randrange(len(p["files"]))
        elif kind == "star":
            key = self.rng.randrange(len(p["repos"]))
        req0 = c.requests
        c.spans = []
        t0 = time.perf_counter()
        ok, err, answer, n = True, None, None, 0
        try:
            if kind == "gam":
                got = c.get_all_matches(p["files"][key])
                answer, n = sorted(list(t.as_tuple()) for t in got), len(got)
            elif kind == "gfm":
                t = c.get_first_match(p["files"][key], f"<{O}inRepo>")
                answer, n = (list(t.as_tuple()) if t else None), 1
            elif kind == "ind":
                ind = self.graph.get_individual(p["files"][key][1:-1])
                trip = ind.to_triples()
                answer, n = sorted(list(t.as_tuple()) for t in trip), len(trip)
            elif kind == "star":
                res = c._execute_query(star_query(g, p["repos"][key]))
                answer = rows_of(res)
                n = len(answer)
            elif kind == "agg":
                answer = rows_of(c._execute_query(agg_query(g)))
                n = len(answer)
            elif kind == "path":
                answer = rows_of(c._execute_query(path_query(g)))
                n = len(answer)
            elif kind == "ask":
                # even keys ask the file's own repo, odd keys another one
                file_term, repo_term = p["asks"][key]
                answer = bool(c._execute_query(ask_query(g, file_term, repo_term))["boolean"])
                n = 1
            else:
                self.writes += 1
                t = Triple(
                    f"<urn:perfbench:s:{self.conn}:{self.writes}>",
                    "<urn:perfbench:p>",
                    f'"{p["seed"]}"',
                )
                with self.write_lock:
                    c.add_triples([t])
                    c.delete_triples([t])
                answer, n = "ok", 2
        except Exception as e:  # noqa: BLE001 — a failed op is recorded
            ok, err = False, f"{type(e).__name__}: {e}"
        t1 = time.perf_counter()
        return {
            "kind": kind,
            "key": key,
            "conn": self.conn,
            "start": t0,
            "lat": t1 - t0,
            "ok": ok,
            "err": err,
            "answer": digest(answer) if ok else None,
            "n": n,
            "req": c.requests - req0,
            "http": c.spans,
        }

    def loop(self, deadline: float) -> None:
        while time.perf_counter() < deadline:
            deck = list(DECK)
            self.rng.shuffle(deck)
            for kind in deck:
                self.records.append(self.run_op(kind))


def main(argv) -> int:
    plan = json.loads(Path(argv[1]).read_text())
    lock = threading.Lock()
    conns = [
        Connection(plan, k, lock, plan.get("traced", False))
        for k in range(plan["connections"])
    ]
    t0 = time.perf_counter()
    deadline = t0 + plan["seconds"]
    threads = [threading.Thread(target=c.loop, args=(deadline,)) for c in conns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t0
    out = {
        "elapsed": elapsed,
        "records": [r for c in conns for r in c.records],
        "maxrss_kb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
    }
    Path(argv[2]).write_text(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
