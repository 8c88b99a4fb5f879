"""``serve`` workload: SPARQL traffic against a seeded store.

Set-up seeds a ``ParquetQuadStore`` with the N-row KG, puts
``LocalSparqlEndpoint`` and ``SparqlHttpServer`` in front of it, and warms
every request kind once. The measured window is a separate load-generator
process (perfbench/loadgen.py) driving 2 closed-loop connections over HTTP.
Every answer is compared with one computed from the oracle quads; after the
window the store's fingerprint must equal the seeded one.
"""

from __future__ import annotations

import json
import random
import statistics
import subprocess
import sys
import threading
from collections import defaultdict
from pathlib import Path

import harness as H
import layers
import loadgen as L
from ontograph_spark.query.endpoint import LocalSparqlEndpoint
from ontograph_spark.store.parquet_store import ParquetQuadStore

N_ROWS = 5_000
CONNECTIONS = 2
#: file subjects and repos the traffic draws its parameters from
N_FILES = 64
N_REPOS = 8


class TracedEndpoint(LocalSparqlEndpoint):
    """Records spans around the endpoint's query and update calls while a
    tracer is set."""

    tracer = H.Tracer(False)

    def query(self, sparql):
        with self.tracer.span("query.endpoint.query"):
            return super().query(sparql)

    def update(self, sparql):
        with self.tracer.span("query.endpoint.update"):
            return super().update(sparql)


class TracedStore(ParquetQuadStore):
    """Records spans around snapshot reads and commits while a tracer is
    set."""

    tracer = H.Tracer(False)

    def _df(self):
        with self.tracer.span("store.snapshot_read"):
            return super()._df()

    def _commit(self, df, op="mutate", touched=None):
        with self.tracer.span("store.commit", op=op):
            return super()._commit(df, op, touched)


class ServeWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_rows = ctx.rows or N_ROWS
        self.server = None
        self.window_snapshots: list[str] = []
        self.records: list[dict] = []

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        from ontograph_spark.query.http_server import SparqlHttpServer
        from ontograph_spark.store.base import QUAD_SCHEMA

        ctx, spark = self.ctx, self.ctx.spark
        rows = H.render_rows(H.row_offset(ctx.seed), self.n_rows)
        # the N-row KG: oracle quads, which the construct workload checks the
        # pipeline against
        self.gold = H.expected_quads(spark, rows)
        self.root = ctx.run_dir / "store"
        self.store = TracedStore(spark, H.GRAPH, str(self.root))
        self.store.merge_df(spark.createDataFrame(sorted(self.gold), QUAD_SCHEMA))
        self.endpoint = TracedEndpoint(spark, lambda uri: self.store)
        self.endpoint.store_for(H.GRAPH)
        self.server = SparqlHttpServer(self.endpoint).start()
        self.plan = self._plan(rows)
        warm = L.Connection(self.plan, 0, threading.Lock(), False)
        for kind in dict.fromkeys(L.DECK):
            rec = warm.run_op(kind)
            if not rec["ok"]:
                raise RuntimeError(f"warm-up {kind} failed: {rec['err']}")
        self.seed_fp = H.py_fingerprint(self.gold)

    def _plan(self, rows) -> dict:
        from ontograph_spark.pipeline.construct import mint_uri_py
        from ontograph_spark.terms import mk_resource

        rng = random.Random(self.ctx.seed)
        picked = rng.sample(rows, N_FILES)
        files = [mk_resource(mint_uri_py(H.GRAPH, "file", f"{r[0]}|{r[1]}")) for r in picked]
        repo_of = [mk_resource(mint_uri_py(H.GRAPH, "repo", r[0])) for r in picked]
        all_repos = sorted(set(repo_of))
        asks = []
        for k, (f, repo) in enumerate(zip(files, repo_of)):
            other = all_repos[(all_repos.index(repo) + 1) % len(all_repos)]
            asks.append([f, repo if k % 2 == 0 else other])
        return {
            "url": self.server.url,
            "graph": H.GRAPH,
            "seed": self.ctx.seed,
            "connections": CONNECTIONS,
            "files": files,
            "repos": all_repos[:N_REPOS],
            "asks": asks,
        }

    # -- expected answers from the oracle ----------------------------------

    def _expected(self) -> dict:
        from ontograph_spark.terms import term_value

        by_subj = defaultdict(list)
        for s, p, o, _g in self.gold:
            by_subj[s].append([s, p, o])
        O = L.O
        in_repo, path, lang = f"<{O}inRepo>", f"<{O}path>", f"<{O}lang>"
        exp: dict = {}
        for k, f in enumerate(self.plan["files"]):
            trip = sorted(by_subj[f])
            exp[("gam", k)] = L.digest(trip)
            exp[("ind", k)] = L.digest(trip)
            repo = next(o for _s, p, o in trip if p == in_repo)
            exp[("gfm", k)] = L.digest([f, in_repo, repo])
            exp[("ask", k)] = L.digest(self.plan["asks"][k][1] == repo)
        props = defaultdict(dict)
        for s, p, o, _g in self.gold:
            if p in (in_repo, path, lang):
                props[s][p] = o
        for k, repo in enumerate(self.plan["repos"]):
            exp[("star", k)] = L.digest(
                sorted(
                    [term_value(s), term_value(v[path]), term_value(v[lang])]
                    for s, v in props.items()
                    if v.get(in_repo) == repo
                )
            )
        counts = defaultdict(int)
        for v in props.values():
            if lang in v:
                counts[term_value(v[lang])] += 1
        exp[("agg", None)] = L.digest(sorted([k, str(n)] for k, n in counts.items()))
        same = f"<{L.vocab.OWL_SAME_AS}>"
        edges = defaultdict(set)
        for s, p, o, _g in self.gold:
            if p == same:
                edges[s].add(o)
        closure = set()
        for a in edges:
            todo, seen = list(edges[a]), set()
            while todo:
                b = todo.pop()
                if b not in seen:
                    seen.add(b)
                    todo.extend(edges.get(b, ()))
            closure |= {(a, b) for b in seen}
        exp[("path", None)] = L.digest(
            sorted([term_value(a), term_value(b)] for a, b in closure)
        )
        exp[("write", None)] = L.digest("ok")
        return exp

    # -- measured window ----------------------------------------------------

    def loop(self, seconds: float, tracer=None) -> dict:
        ctx = self.ctx
        tr = tracer or H.Tracer(False)
        self.endpoint.tracer = self.store.tracer = tr
        before = layers.snapshot_names(self.root)
        plan_path = ctx.run_dir / "plan.json"
        out_path = ctx.run_dir / "loadgen-out.json"
        plan_path.write_text(json.dumps({**self.plan, "seconds": seconds, "traced": tr.enabled}))
        cpu0 = H.cpu_seconds(ctx.spark)
        proc = subprocess.Popen(
            [sys.executable, str(Path(L.__file__)), str(plan_path), str(out_path)],
            stdout=sys.stderr,
        )
        try:
            code = proc.wait(timeout=seconds + 60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
        finally:
            self.endpoint.tracer = self.store.tracer = H.Tracer(False)
        if code != 0:
            raise RuntimeError(f"load generator exited with {code}")
        cpu_s = H.cpu_seconds(ctx.spark) - cpu0
        out = json.loads(out_path.read_text())
        self.window_snapshots = [
            n for n in layers.snapshot_names(self.root) if n not in set(before)
        ]
        if tr.enabled:  # before any snapshot expires
            self.commit_stats = layers.commit_stats(self.root, self.window_snapshots)
        ctx.extra_rss_kb = max(ctx.extra_rss_kb, out["maxrss_kb"])
        exp = self._expected()
        good, failed = [], 0
        for r in out["records"]:
            r["match"] = r["ok"] and r["answer"] == exp[(r["kind"], r["key"])]
            if r["match"]:
                good.append(r)
            else:
                failed += 1
                ctx.log(f"serve op {r['kind']}[{r['key']}] failed: {r['err'] or 'wrong answer'}")
            if tr.enabled:
                sid = tr.add(f"serve.op.{r['kind']}", r["start"], r["start"] + r["lat"])
                for a, b in r["http"]:
                    tr.add("http.request", a, b, sid)
        self.records = good
        return {
            "walls": [r["lat"] for r in good],
            "failed": failed,
            "elapsed": out["elapsed"],
            "cpu_s": cpu_s,
        }

    def metrics(self, res: dict) -> dict:
        elapsed = res["elapsed"]
        # footprint under a keep-2 retention policy, so it does not grow
        # with the number of commits a run happened to make
        self.store.expire_snapshots(keep=2)
        live = json.loads(
            (self.root / "snapshots" / f"{self.store.current_snapshot()}.json").read_text()
        )["rows"]
        by_kind = defaultdict(list)
        for r in self.records:
            by_kind[r["kind"]].append(r["lat"])
        return {
            # mix-invariant: the geometric mean of each op kind's median, so
            # the value does not hinge on which kind the overall median
            # happens to fall in
            "op_p50_s": statistics.geometric_mean(H.median(v) for v in by_kind.values()),
            "ops_per_s": len(self.records) / elapsed,
            "cpu_s_per_op": res["cpu_s"] / max(len(self.records), 1),
            "triples_per_s": sum(r["n"] for r in self.records if r["kind"] in L.CLIENT_API)
            / elapsed,
            "store_bytes_per_triple": H.dir_bytes(self.root) / max(live, 1),
        }

    def detail(self, res: dict) -> dict:
        reads = [r["lat"] for r in self.records if r["kind"] in L.READS]
        writes = [r["lat"] for r in self.records if r["kind"] == "write"]
        p90 = H.percentile(reads, 0.9)
        by_kind = defaultdict(list)
        for r in self.records:
            by_kind[r["kind"]].append(r["lat"])
        return {
            "rows": self.n_rows,
            "store_triples": len(self.gold),
            "connections": CONNECTIONS,
            "ops": len(self.records),
            "serve_ops_per_s": len(self.records) / res["elapsed"],
            "serve_read_p50_s": H.median(reads),
            "serve_read_p90_s": p90,
            "reads": len(reads),
            "reads_beyond_p90": sum(1 for x in reads if x > p90),
            "serve_write_p50_s": H.median(writes),
            "writes": len(writes),
            "p50_by_kind_s": {k: round(H.median(v), 4) for k, v in sorted(by_kind.items())},
            "commits": len(self.window_snapshots),
        }

    # -- correctness --------------------------------------------------------

    def checks(self) -> list[tuple[str, bool]]:
        n, distinct, h = H.df_fingerprint(self.store.df())
        return [
            ("serve.store_unchanged", (n, h) == self.seed_fp),
            ("serve.no_duplicates", n == distinct),
        ]

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    # -- traced run ---------------------------------------------------------

    def layer_metrics(self, tracer) -> tuple[dict, list]:
        from ontograph_spark import vocab

        p = self.plan
        client = [r["req"] for r in self.records if r["kind"] in L.CLIENT_API]
        selects = [
            L.star_query(H.GRAPH, p["repos"][0]),
            L.agg_query(H.GRAPH),
            L.path_query(H.GRAPH),
            L.CountingClient(H.GRAPH, "").select_sparql(p["files"][0]),
        ]
        out = layers.query_layers(
            self.ctx,
            self.store,
            self.endpoint,
            self.server.url,
            selects,
            p["files"][:3],
            ("<urn:perfbench:layers>", f"<{vocab.RDFS_LABEL}>", '"x"'),
            tracer,
        )
        out["store.sparql_store.requests_per_op"] = sum(client) / max(len(client), 1)
        out.update(self.commit_stats)
        return out, []
