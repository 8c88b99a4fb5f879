"""Per-layer measurements for the traced run.

Each layer is timed from outside by forcing its public function on the
workload's own inputs, one span per call:

* pipeline: noop writes of ``ingest`` / ``extract_mentions`` /
  ``link_imports``, the canonicalization round trip + ``union_find_mapping``,
  a noop write of ``construct_kg``, and ``salted_repartition`` + write;
* store: ``merge_df`` of an ingest-sized batch into a store seeded with the
  workload's KG, and commit shapes read from the snapshot directories;
* query: ``sparql_select`` (lazy plan) then collect, binding conversion,
  ``serialize_results``, in-process ``query_serialized`` against the same
  request over HTTP, and ``update``.

A layer's busy time is its span's self time. Layers a workload does not run
report 0.
"""

from __future__ import annotations

import json
import statistics
import urllib.parse
import urllib.request
from pathlib import Path

import harness as H

#: rows of the ingest-shaped batch merged into the seeded store: 1/200 of
#: the construct input, the store-to-batch ratio of a 500-row micro-batch
#: into a 100k-row KG
BATCH_ROWS = 50
#: repetitions of each forced query-layer call (the median is kept)
QUERY_REPS = 3

COMMIT_KEYS = [
    "store.commit.rows_rewritten",
    "store.commit.write_amp",
    "store.commit.full_rewrite_frac",
]
def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(str(path)).num_rows


# -- store commits ----------------------------------------------------------


def snapshot_names(root: Path) -> list[str]:
    snaps = root / "snapshots"
    return sorted(p.name for p in snaps.iterdir() if p.is_dir()) if snaps.is_dir() else []


def commit_stats(root: Path, names: list[str]) -> dict:
    """Commit shape of each named snapshot, read from outside: a data file
    whose inode is not in the parent snapshot was written by the commit;
    the others were hard-linked. The manifest's ``scoped_partitions`` is
    null for a full rewrite."""
    if not names:
        return {k: 0.0 for k in COMMIT_KEYS}

    def files(name):
        return {
            p.stat().st_ino: p for p in (root / "snapshots" / name).rglob("*.parquet")
        }

    def manifest(name):
        return json.loads((root / "snapshots" / f"{name}.json").read_text())

    rewritten, amps, full = [], [], 0
    for name in names:
        m = manifest(name)
        mine = files(name)
        parent = files(m["parent"]) if m["parent"] else {}
        parent_rows = manifest(m["parent"])["rows"] if m["parent"] else 0
        new = [p for ino, p in mine.items() if ino not in parent]
        new_bytes = sum(p.stat().st_size for p in new)
        live_bytes = sum(p.stat().st_size for p in mine.values())
        bytes_per_row = live_bytes / max(m["rows"], 1)
        changed = max(abs(m["rows"] - parent_rows), 1)
        rewritten.append(sum(_parquet_rows(p) for p in new))
        amps.append(new_bytes / max(changed * bytes_per_row, 1e-9))
        full += m["scoped_partitions"] is None
    return {
        "store.commit.rows_rewritten": statistics.mean(rewritten),
        "store.commit.write_amp": statistics.mean(amps),
        "store.commit.full_rewrite_frac": full / len(names),
    }


# -- pipeline + merge (construct workload) ---------------------------------


def pipeline_layers(ctx, files, rows, batch_rows, tracer) -> tuple[dict, list]:
    """Pipeline and merge layer metrics, plus the merge's correctness check:
    the store after the batch equals the oracle over seed + batch rows."""
    from pyspark import StorageLevel

    from ontograph_spark.pipeline.canon import union_find_mapping
    from ontograph_spark.pipeline.construct import (
        construct_kg,
        emit_decl_quads,
        emit_file_quads,
        emit_import_quads,
        emit_module_quads,
        emit_repo_quads,
        emit_repo_ref_quads,
        ingest,
        mint_uri_py,
        schema_quads,
    )
    from ontograph_spark.pipeline.extract import extract_mentions
    from ontograph_spark.pipeline.link import link_imports, module_dictionary, same_as_pairs
    from ontograph_spark.pipeline.materialize import salted_repartition
    from ontograph_spark.pipeline.repo_source import REPO_SCHEMA
    from ontograph_spark.store.parquet_store import ParquetQuadStore
    from ontograph_spark.terms import mk_resource

    spark, g, disk = ctx.spark, H.GRAPH, StorageLevel.DISK_ONLY
    out: dict = {}
    with tracer.span("layers.pipeline"):
        with tracer.span("pipeline.ingest"):
            ingested = ingest(files, g).persist(disk)
            _force(ingested)
        with tracer.span("pipeline.extract"):
            mentions = extract_mentions(ingested).persist(disk)
            _force(mentions)
        out["pipeline.extract.mentions"] = mentions.count()
        with tracer.span("pipeline.link"):
            linked = link_imports(mentions, module_dictionary(spark)).persist(disk)
            _force(linked)
        pairs = same_as_pairs(linked)
        with tracer.span("pipeline.canon"):
            pair_rows = pairs.collect()
            union_find_mapping(
                [
                    (
                        mk_resource(mint_uri_py(g, "module", r["name"])),
                        mk_resource(mint_uri_py(g, "module", r["canonical"])),
                    )
                    for r in pair_rows
                ]
            )
        out["pipeline.link.alias_pairs"] = len(pair_rows)
        with tracer.span("pipeline.construct"):
            quads = construct_kg(spark, files).persist(disk)
            _force(quads)
        n_quads = quads.count()
        meta = ingested.drop("content")
        emitted = (
            emit_file_quads(meta, g)
            .unionByName(emit_repo_quads(meta, g))
            .unionByName(emit_decl_quads(mentions, g))
            .unionByName(emit_repo_ref_quads(mentions, g))
            .unionByName(schema_quads(spark, g))
            .unionByName(emit_import_quads(linked, g))
            .unionByName(emit_module_quads(linked, pairs, g))
            .count()
        )
        out["pipeline.construct.quads"] = n_quads
        out["pipeline.construct.dedup_keep_ratio"] = n_quads / max(emitted, 1)

        kg = ctx.run_dir / "layers-kg"
        with tracer.span("pipeline.materialize"):
            salted_repartition(quads, spark.sparkContext.defaultParallelism).write.mode(
                "overwrite"
            ).parquet(str(kg))
        parts = sorted(kg.glob("*.parquet"))
        out["pipeline.materialize.bytes_written"] = sum(p.stat().st_size for p in parts)
        counts = [_parquet_rows(p) for p in parts] or [0]
        out["pipeline.materialize.partition_skew"] = max(counts) / max(
            statistics.median(counts), 1
        )

        # the ingest shape: a small batch merged into a much larger store
        root = ctx.run_dir / "layers-store"
        store = ParquetQuadStore(spark, g, str(root))
        with tracer.span("store.merge.seed"):
            store.merge_df(quads)
        batch = construct_kg(
            spark, spark.createDataFrame(batch_rows, REPO_SCHEMA), g, include_schema=False
        ).localCheckpoint(eager=True)
        with tracer.span("store.merge"):
            store.merge_df(batch)
        out.update(commit_stats(root, snapshot_names(root)[-1:]))
        n, distinct, h = H.df_fingerprint(store.df())
    H.clear_persisted(spark)
    gold = H.py_fingerprint(H.expected_quads(spark, rows + batch_rows))
    checks = [("store.merge_matches_oracle", (n, h) == gold and n == distinct)]

    self_t = tracer.self_times()
    for layer in ("ingest", "extract", "link", "canon", "construct", "materialize"):
        out[f"pipeline.{layer}.busy_s"] = self_t.get(f"pipeline.{layer}", 0.0)
    out["store.merge.busy_s"] = self_t.get("store.merge", 0.0)
    return out, checks


# -- query + HTTP (serve workload) -----------------------------------------


def _http_query(url: str, sparql: str) -> bytes:
    data = urllib.parse.urlencode({"query": sparql}).encode()
    req = urllib.request.Request(
        url,
        data=data,
        headers={
            "Content-Type": "application/x-www-form-urlencoded",
            "Accept": "application/sparql-results+json",
        },
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.read()


def query_layers(ctx, store, endpoint, url, selects, subjects, update_triple, tracer) -> dict:
    """``selects``: SELECT texts of the serve mix; ``subjects``: file subject
    terms for the scan; ``update_triple``: a triple absent from the store,
    inserted and deleted again."""
    from ontograph_spark.query.endpoint import term_to_binding
    from ontograph_spark.query.results import serialize_results
    from ontograph_spark.query.sparql import sparql_select

    per = {k: [] for k in ("compile", "execute", "bindings", "serialize", "bytes", "http")}
    with tracer.span("layers.query"):
        for q in selects:
            t = {k: [] for k in per}
            for rep in range(QUERY_REPS):
                world = store.df()
                with tracer.span("query.sparql.compile") as s_c:
                    df = sparql_select(world, q)
                with tracer.span("query.sparql.execute") as s_e:
                    rows = df.collect()
                with tracer.span("query.endpoint.bindings") as s_b:
                    result = {
                        "head": {"vars": df.columns},
                        "results": {
                            "bindings": [
                                {
                                    v: term_to_binding(x)
                                    for v, x in r.asDict().items()
                                    if x is not None
                                }
                                for r in rows
                            ]
                        },
                    }
                with tracer.span("query.results.serialize") as s_s:
                    body = serialize_results(result, "application/sparql-results+json")
                # alternate which of the pair runs first, so neither side
                # always meets the warmer state
                pair = [
                    ("query.endpoint.query_serialized", endpoint.query_serialized),
                    ("query.http", lambda q: _http_query(url, q)),
                ]
                spans = {}
                for name, fn in pair if rep % 2 == 0 else pair[::-1]:
                    with tracer.span(name) as spans[name]:
                        fn(q)
                s_q, s_h = spans["query.endpoint.query_serialized"], spans["query.http"]
                for key, sp in (
                    ("compile", s_c),
                    ("execute", s_e),
                    ("bindings", s_b),
                    ("serialize", s_s),
                ):
                    t[key].append(sp["end"] - sp["start"])
                t["bytes"].append(len(body.encode()))
                t["http"].append((s_h["end"] - s_h["start"]) - (s_q["end"] - s_q["start"]))
            for key in per:
                per[key].append(statistics.median(t[key]))

        scans = []
        for subj in subjects:
            with tracer.span("store.scan") as sp:
                store.match_df(subj).collect()
            scans.append(sp["end"] - sp["start"])
        n_files = len(store.df().inputFiles())

        s, p, o = update_triple
        body = f"GRAPH <{store.get_uri()}> {{ {s} {p} {o} . }}"
        updates = []
        for form in ("INSERT DATA", "DELETE DATA"):
            with tracer.span("query.endpoint.update") as sp:
                endpoint.update(f"{form} {{ {body} }}")
            updates.append(sp["end"] - sp["start"])

    return {
        "store.scan.busy_s": statistics.median(scans),
        "store.scan.files": n_files,
        "query.sparql.compile_s": statistics.mean(per["compile"]),
        "query.sparql.execute_s": statistics.mean(per["execute"]),
        "query.endpoint.bindings_s": statistics.mean(per["bindings"]),
        "query.results.serialize_s": statistics.mean(per["serialize"]),
        "query.results.bytes": statistics.mean(per["bytes"]),
        "query.http.overhead_s": statistics.mean(per["http"]),
        "query.endpoint.update_s": statistics.mean(updates),
    }
