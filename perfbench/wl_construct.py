"""``construct`` workload: the paper's batch job.

Set-up writes an N-row synthetic repo table to parquet and warms the JVM,
codegen and Python workers. One operation is ``construct_kg`` over that
table followed by a ``salted_repartition`` parquet write, run back to back
for the measured window. The last operation's output is checked against
the pure-Python oracle.
"""

from __future__ import annotations

import time

import harness as H
import layers

N_ROWS = 10_000


class ConstructWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_rows = ctx.rows or N_ROWS

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        ctx = self.ctx
        self.rows = H.render_rows(H.row_offset(ctx.seed), self.n_rows)
        src = ctx.run_dir / "repos"
        H.write_repo_table(self.rows, src, files=2 * H.cpu_count())
        self.files = H.read_repo_table(ctx.spark, src)
        self.out = ctx.run_dir / "kg"
        # JIT, codegen and the Python workers
        self._op(self.files)

    def _op(self, files, tracer=None) -> float:
        from ontograph_spark.pipeline.construct import construct_kg
        from ontograph_spark.pipeline.materialize import salted_repartition

        spark = self.ctx.spark
        tr = tracer or H.Tracer(False)
        t0 = time.perf_counter()
        with tr.span("construct.op"):
            with tr.span("op.construct_kg"):
                quads = construct_kg(spark, files)
            with tr.span("op.materialize"):
                salted_repartition(quads, spark.sparkContext.defaultParallelism).write.mode(
                    "overwrite"
                ).parquet(str(self.out))
        wall = time.perf_counter() - t0
        H.clear_persisted(spark)
        return wall

    # -- measured window ----------------------------------------------------

    def loop(self, seconds: float, tracer=None) -> dict:
        walls: list[float] = []
        failed = 0
        cpu0 = H.cpu_seconds(self.ctx.spark)
        t0 = time.perf_counter()
        deadline = t0 + seconds
        while time.perf_counter() < deadline:
            try:
                walls.append(self._op(self.files, tracer))
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                failed += 1
                self.ctx.log(f"construct op failed: {type(e).__name__}: {e}")
        return {
            "walls": walls,
            "failed": failed,
            "elapsed": time.perf_counter() - t0,
            "cpu_s": H.cpu_seconds(self.ctx.spark) - cpu0,
        }

    def metrics(self, res: dict) -> dict:
        spark = self.ctx.spark
        triples = spark.read.parquet(str(self.out)).count()
        self.triples = triples
        p50 = H.median(res["walls"])
        return {
            "op_p50_s": p50,
            "ops_per_s": len(res["walls"]) / res["elapsed"],
            "cpu_s_per_op": res["cpu_s"] / max(len(res["walls"]), 1),
            "triples_per_s": triples / p50,
            "store_bytes_per_triple": H.dir_bytes(self.out) / max(triples, 1),
        }

    def detail(self, res: dict) -> dict:
        return {
            "rows": self.n_rows,
            "triples": self.triples,
            "ops": len(res["walls"]),
            "walls_s": [round(w, 4) for w in res["walls"]],
            # the issue's per-workload names for the generic metrics
            "construct_wall_s": H.median(res["walls"]),
            "construct_triples_per_s": self.triples / H.median(res["walls"]),
        }

    # -- correctness --------------------------------------------------------

    def checks(self) -> list[tuple[str, bool]]:
        """Count + order-independent fingerprint against the oracle, no
        duplicate quads, and every checksum literal = sha256(content)."""
        import hashlib

        from ontograph_spark import vocab
        from ontograph_spark.pipeline.construct import mint_uri_py
        from ontograph_spark.terms import mk_literal, mk_resource

        spark = self.ctx.spark
        out = spark.read.parquet(str(self.out)).select("subj", "pred", "obj", "graph")
        n, distinct, h = H.df_fingerprint(out)
        gold = H.expected_quads(spark, self.rows)
        gn, gh = H.py_fingerprint(gold)
        checksum = mk_resource(f"{H.GRAPH}#checksum")
        got = {
            r["subj"]: r["obj"]
            for r in out.where(out.pred == checksum).select("subj", "obj").collect()
        }
        want = {
            mk_resource(mint_uri_py(H.GRAPH, "file", f"{repo}|{path}")): mk_literal(
                hashlib.sha256(content.encode()).hexdigest(), "", vocab.XSD_STRING
            )
            for repo, path, _c, _l, content in self.rows
        }
        return [
            ("construct.matches_oracle", (n, h) == (gn, gh)),
            ("construct.no_duplicates", n == distinct),
            ("construct.checksums", got == want),
        ]

    def close(self) -> None:
        pass

    # -- traced run ---------------------------------------------------------

    def layer_metrics(self, tracer) -> tuple[dict, list]:
        batch = H.render_rows(H.row_offset(self.ctx.seed) + self.n_rows, layers.BATCH_ROWS)
        return layers.pipeline_layers(self.ctx, self.files, self.rows, batch, tracer)
