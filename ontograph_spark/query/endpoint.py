"""In-process SPARQL endpoint over quad stores.

The reference splits the system in two: a Go client that builds SPARQL
strings (blazegraph_store.go) and a Blazegraph server that answers them.
:class:`LocalSparqlEndpoint` plays the server role with the distributed
engine itself — queries are answered by :mod:`ontograph_spark.query.sparql`
over the union of the managed graphs, and updates dispatch to the quad
stores' operator surface — so the reference-shaped client
(:class:`~ontograph_spark.store.sparql_store.SparqlQuadStore`) runs its
ENTIRE operator set (checked/unchecked add/delete incl. batch rollback,
pattern match, size, drop, Turtle export) with no external service:

    endpoint = LocalSparqlEndpoint(spark, lambda uri: MemoryQuadStore(spark, uri))
    client = endpoint.client("https://g.example/my-graph")
    client.add_triples(triples)        # SPARQL in, engine answers

Updates: :func:`~ontograph_spark.query.sparql.parse_update` reads the
request (``BASE``/``PREFIX`` prologue + one operation) and
:meth:`LocalSparqlEndpoint.update` dispatches on its record: the client's
forms (blazegraph_store.go:104, 166, 248, 289) ``INSERT DATA``,
``DELETE DATA``, ``DELETE WHERE`` (the Modify shorthand: one solved
group) and ``DROP GRAPH``, plus ``CLEAR``/``CREATE [SILENT]``,
``COPY|MOVE|ADD`` as whole-graph DataFrame merges (§3.2), ``LOAD
[SILENT] <doc> [INTO GRAPH <g>]`` as a distributed N-Triples/N-Quads
read (§3.1.4), and the Modify form ``[WITH <g>] [DELETE {…}] [INSERT
{…}] (USING [NAMED] <g>)* WHERE { … }``, which solves the WHERE group
once and commits each graph's batch distributed (merge_df / delete_df;
DELETE before INSERT over the same solutions, both materialized
pre-commit).

Scale note: this adapter is the *compatibility* path — per-operation
driver round-trips, like the reference's own client. Bulk pipelines
should write through :meth:`QuadStoreBase.merge_df` and query through
:func:`sparql_select` directly; both are documented on the store API.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontograph_spark.query.sparql import (
    SparqlSyntaxError,
    Update,
    _Parser,
    parse_update,
    sparql_ask,
    sparql_select,
    sparql_update_template,
)
from ontograph_spark.store.base import QUAD_SCHEMA, QuadStoreBase
from ontograph_spark.store.sparql_store import SparqlQuadStore
from ontograph_spark.ontology.resources import Triple
from ontograph_spark.terms import (
    is_literal,
    is_resource,
    term_datatype,
    term_language,
    term_value,
)


def term_to_binding(term: str) -> dict:
    """Encode an N-Triples term as a SPARQL-JSON binding — the inverse of
    :func:`ontograph_spark.store.sparql_store.binding_to_term` (itself the
    twin of the reference's binding2Term, blazegraph_store.go:434-445)."""
    if not isinstance(term, str):
        # non-term scalars (COUNT results are longs)
        return {"type": "literal", "value": str(term)}
    if is_resource(term):
        return {"type": "uri", "value": term_value(term)}
    if is_literal(term):
        b: dict = {"type": "literal", "value": term_value(term)}
        lang = term_language(term)
        if lang:
            b["xml:lang"] = lang
        dt = term_datatype(term)  # already the bare datatype URI
        if dt:
            b["datatype"] = dt
        return b
    # remaining bare scalars (GROUP_CONCAT strings, STR() projections):
    # plain literals. GRAPH ?g needs no special case here — graph
    # variables bind encoded <uri> resource terms (sparql._graph_term),
    # so they serialize as uri bindings through is_resource above.
    return {"type": "literal", "value": str(term)}


class LocalSparqlEndpoint:
    """SPARQL query+update service over engine-managed quad stores.

    ``store_factory(uri)`` creates the backend for a graph on first
    touch — any :class:`QuadStoreBase` (in-memory for fixtures, parquet
    for shared persistent graphs with one backing table)."""

    def __init__(
        self,
        spark: SparkSession,
        store_factory: Callable[[str], QuadStoreBase],
    ) -> None:
        self.spark = spark
        self._factory = store_factory
        self._stores: dict[str, QuadStoreBase] = {}

    def store_for(self, uri: str) -> QuadStoreBase:
        if uri not in self._stores:
            self._stores[uri] = self._factory(uri)
        return self._stores[uri]

    def client(self, uri: str) -> SparqlQuadStore:
        """A reference-shaped SPARQL client whose transport is this
        endpoint (no HTTP, no server)."""
        self.store_for(uri)
        return _LocalClient(self, uri)

    # -- the "server" ------------------------------------------------------

    def _world(self) -> DataFrame:
        """Union of all managed graphs — the dataset queries run over.
        Stores sharing one backing table contribute identical scans and
        collapse via ReuseExchange; the union is a plan, not a copy."""
        dfs = [s.df() for s in self._stores.values()]
        if not dfs:
            return self.spark.createDataFrame([], QUAD_SCHEMA)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def query(self, sparql: str) -> dict:
        """Answer SELECT/ASK (the SPARQL-JSON result shape the reference
        client decodes, blazegraph_endpoint.go:265-284) plus
        CONSTRUCT/DESCRIBE, whose graph results come back as bindings
        over ``subj``/``pred``/``obj`` (an in-process convenience — a
        wire endpoint would serialize RDF instead)."""
        kind = _Parser(sparql).parse_query().kind
        world = self._world()
        if kind == "ask":
            return {"boolean": sparql_ask(world, sparql)}
        if kind in ("construct", "describe"):
            from ontograph_spark.query import sparql_construct, sparql_describe

            fn = sparql_construct if kind == "construct" else sparql_describe
            df = fn(world, sparql)
            bindings = [
                {var: term_to_binding(val) for var, val in row.asDict().items()}
                for row in df.collect()
            ]
            return {
                "head": {"vars": df.columns},
                "results": {"bindings": bindings},
            }
        if kind != "select":
            raise SparqlSyntaxError(f"endpoint answers SELECT/ASK, not {kind}")
        df = sparql_select(world, sparql)
        bindings = [
            {
                var: term_to_binding(val)
                for var, val in row.asDict().items()
                if val is not None
            }
            for row in df.collect()
        ]
        return {"head": {"vars": df.columns}, "results": {"bindings": bindings}}

    def query_serialized(
        self, sparql: str, accept: str = "application/sparql-results+json"
    ) -> str:
        """Answer a query and serialize per the ``Accept`` media type
        (SPARQL-JSON/XML/CSV/TSV) — the full wire behavior an HTTP
        front end needs, minus the socket."""
        from ontograph_spark.query.results import serialize_results

        return serialize_results(self.query(sparql), accept)

    def update(self, sparql: str) -> None:
        """Execute one update by dispatching its parsed record to the
        graphs' store operators. The DATA forms take the stores' batch
        path (``add_triples_unchecked`` / ``delete_triples_unchecked``);
        Modify updates (``DELETE WHERE`` included) solve the WHERE group
        over the whole dataset and commit each target graph's
        instantiated batch distributed (merge_df / delete_df — no
        driver-side triple lists)."""
        op = parse_update(sparql)
        if op.kind in ("INSERT DATA", "DELETE DATA"):
            for uri, triples in op.data.items():
                store = self.store_for(uri)
                rows = [Triple(*t) for t in triples]
                if op.kind == "INSERT DATA":
                    store.add_triples_unchecked(rows)
                else:
                    store.delete_triples_unchecked(rows)
        elif op.kind == "MODIFY":
            self._modify(op)
        elif op.kind == "CREATE":
            # make the graph managed; an already-managed graph is an
            # error unless SILENT (§3.2.1)
            if op.graph in self._stores and not op.silent:
                raise SparqlSyntaxError(f"graph already exists: <{op.graph}>")
            self.store_for(op.graph)
        elif op.kind == "CLEAR":
            # graph stays managed, contents removed (§3.2.2)
            self.store_for(op.graph).delete_all_matches("", "", "")
        elif op.kind == "DROP":
            self.store_for(op.graph).drop()
            del self._stores[op.graph]
        elif op.kind == "LOAD":
            self._load(op.silent, op.source, op.graph)
        elif op.source != op.graph:  # COPY / MOVE / ADD onto itself: no-op
            # COPY = replace dst with src; ADD = union into dst; MOVE =
            # COPY then drop src (§3.2.3-3.2.5). Whole-graph DataFrame
            # merges — no triple lists on the driver.
            src = self.store_for(op.source)
            dst = self.store_for(op.graph)
            if op.kind in ("COPY", "MOVE"):
                dst.delete_all_matches("", "", "")
            dst.merge_df(src.df().withColumn("graph", F.lit(op.graph)))
            if op.kind == "MOVE":
                src.drop()
                del self._stores[op.source]

    def _modify(self, op: Update) -> None:
        ops = sparql_update_template(self._world(), op)
        if len(ops) > 1:
            # DELETE + INSERT instantiate against the same WHERE
            # solutions: materialize every batch BEFORE the first
            # commit, or the delete would change what the lazy insert
            # batch scans
            ops = [
                (
                    form,
                    {
                        uri: batch.localCheckpoint(eager=True)
                        for uri, batch in by_graph.items()
                    },
                )
                for form, by_graph in ops
            ]
        for form, by_graph in ops:
            for uri, batch in by_graph.items():
                store = self.store_for(uri)
                if form == "INSERT":
                    store.merge_df(batch)
                else:
                    store.delete_df(batch)

    def _load(self, silent: bool, source: str, into: str | None) -> None:
        """SPARQL 1.1 Update ``LOAD [SILENT] <doc> [INTO GRAPH <g>]``
        (§3.1.4): bulk-read an N-Triples or N-Quads document
        (``file:`` IRIs and plain paths; ``.nq`` selects the quad
        reader) distributed and merge it. ``INTO GRAPH`` scopes every
        statement to that graph; without it an N-Quads document routes
        each quad to its own named graph (this endpoint is
        multi-graph — there is no unnamed default), while N-Triples
        without INTO is an error. SILENT swallows read failures per the
        spec."""
        path = source
        if path.startswith("file://"):
            path = path[len("file://"):]
        is_nq = path.endswith(".nq") or path.endswith(".nquads")
        if not is_nq and into is None:
            # a local USAGE error, not a read failure — SILENT swallows
            # remote/read trouble (§3.1.4), never this
            raise SparqlSyntaxError(
                "LOAD of an N-Triples document needs INTO GRAPH"
                " <g> (this endpoint has no unnamed default"
                " graph)"
            )
        try:
            if is_nq:
                from ontograph_spark.sources.nquads import read_nquads

                quads = read_nquads(
                    self.spark, path, default_graph=into or "", strict=True
                )
            else:
                from ontograph_spark.sources.ntriples import read_ntriples

                quads = read_ntriples(self.spark, path, into)
            if into is not None:
                quads = quads.withColumn("graph", F.lit(into))
                # force the read here so a parse/fetch failure is still
                # a SILENT-swallowable load error, while the merge below
                # stays outside the catch
                quads = quads.localCheckpoint(eager=True)
                graphs = [into]
            else:
                # route per named graph: the distinct graph list is
                # vocabulary-sized (one store per graph by construction)
                graphs = [
                    r[0] for r in quads.select("graph").distinct().collect()
                ]
        except Exception as e:
            if silent:
                return  # LOAD SILENT: read failure leaves stores unchanged
            if isinstance(e, SparqlSyntaxError):
                raise
            raise SparqlSyntaxError(f"LOAD <{source}> failed: {e}") from e
        # usage errors and the merges sit OUTSIDE the silent catch:
        # SILENT swallows fetch/parse trouble (§3.1.4), never a
        # locally-detectable misuse, and a half-applied merge failing
        # quietly would be data loss
        if "" in graphs:
            raise SparqlSyntaxError(
                f"LOAD <{source}>: document has graph-less statements"
                " and no INTO GRAPH was given"
            )
        if into is not None:
            self.store_for(into).merge_df(quads)
            return
        for g in graphs:
            self.store_for(g).merge_df(quads.where(F.col("graph") == g))


class _LocalClient(SparqlQuadStore):
    """SparqlQuadStore whose transport is a LocalSparqlEndpoint."""

    def __init__(self, endpoint: LocalSparqlEndpoint, uri: str) -> None:
        super().__init__(uri, f"local://{uri}")
        self._endpoint = endpoint

    def _execute_query(self, sparql: str) -> dict:
        return self._endpoint.query(sparql)

    def _execute_update(self, sparql: str) -> None:
        self._endpoint.update(sparql)
