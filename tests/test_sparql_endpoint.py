"""The reference-shaped SPARQL client running against the engine itself.

In the reference, SparqlQuadStore-equivalent code only works with a live
Blazegraph (blazegraph_store_test.go:51-397 needs docker). Here the same
client operator matrix runs with :class:`LocalSparqlEndpoint` playing the
server over the distributed engine — every operation goes through real
SPARQL strings, the engine's parser/compiler, and the quad-store
operators underneath. Scenarios transcribed from memory_store_test.go
(they are backend-independent by design in the reference)."""

from __future__ import annotations

import io

import pytest

from ontograph_spark.errors import (
    TripleAlreadyExistsError,
    TripleDoesNotExistError,
)
from ontograph_spark.ontology.resources import new_triple
from ontograph_spark.query import LocalSparqlEndpoint, SparqlSyntaxError, sparql_construct
from ontograph_spark.store import MemoryQuadStore
from ontograph_spark.terms import mk_literal, mk_resource

from test_store import GRAPH_URI, as_set, fixture_triples

TRIPLES = fixture_triples(GRAPH_URI)


@pytest.fixture()
def endpoint(spark):
    return LocalSparqlEndpoint(spark, lambda uri: MemoryQuadStore(spark, uri))


@pytest.fixture()
def client(endpoint):
    c = endpoint.client(GRAPH_URI)
    c.add_triples_unchecked(TRIPLES)
    return c


def test_matrix_get_all_matches(client):
    assert as_set(client.get_all_triples()) == as_set(TRIPLES)
    fan = client.get_all_matches(mk_resource(GRAPH_URI), "", "")
    assert as_set(fan) == as_set(TRIPLES[:3])
    lit = client.get_all_matches("", "", mk_literal("lit2", "de", ""))
    assert as_set(lit) == as_set([TRIPLES[5]])
    assert client.get_first_match("", mk_resource(f"{GRAPH_URI}#rel-2"), "") == TRIPLES[3]
    assert client.get_first_match(mk_resource(f"{GRAPH_URI}#nope"), "", "") is None


def test_matrix_size_and_checked_add(client):
    assert client.size() == 7
    with pytest.raises(TripleAlreadyExistsError):
        client.add_triple(TRIPLES[0])
    fresh = new_triple(
        mk_resource(f"{GRAPH_URI}#new"),
        mk_resource(f"{GRAPH_URI}#rel-9"),
        mk_literal("v", "", ""),
    )
    client.add_triple(fresh)
    assert client.size() == 8


def test_matrix_batch_add_rolls_back_on_conflict(client):
    fresh = new_triple(
        mk_resource(f"{GRAPH_URI}#n1"), mk_resource(f"{GRAPH_URI}#r"), mk_literal("1", "", "")
    )
    with pytest.raises(TripleAlreadyExistsError):
        client.add_triples([fresh, TRIPLES[0]])
    assert client.size() == 7  # fresh was compensated away


def test_matrix_checked_delete_and_rollback(client):
    ghost = new_triple(
        mk_resource(f"{GRAPH_URI}#ghost"), mk_resource(f"{GRAPH_URI}#r"), mk_literal("x", "", "")
    )
    with pytest.raises(TripleDoesNotExistError):
        client.delete_triple(ghost)
    with pytest.raises(TripleDoesNotExistError):
        client.delete_triples([TRIPLES[0], ghost])
    assert client.size() == 7  # the deleted TRIPLES[0] was restored
    client.delete_triple(TRIPLES[0])
    assert client.size() == 6


def test_matrix_delete_all_matches_and_unchecked(client):
    client.delete_all_matches(mk_resource(GRAPH_URI), "", "")
    assert client.size() == 4
    client.delete_triple_unchecked(TRIPLES[3])
    client.delete_triple_unchecked(TRIPLES[3])  # idempotent
    assert client.size() == 3


def test_matrix_drop(endpoint, client):
    client.drop()
    assert client.get_uri() == ""
    # the graph is gone from the endpoint's world
    assert endpoint.query(
        f"SELECT (COUNT(*) AS ?n) WHERE {{ GRAPH <{GRAPH_URI}> {{ ?s ?p ?o }} }}"
    )["results"]["bindings"][0]["n"]["value"] == "0"


def test_turtle_export_through_client(client):
    buf = io.StringIO()
    client.serialize_to_turtle(buf)
    text = buf.getvalue()
    assert f"<{GRAPH_URI}#rel-1>" in text and '"lit2"@de' in text


def test_two_graphs_are_scoped(endpoint):
    a = endpoint.client("urn:a")
    b = endpoint.client("urn:b")
    a.add_triple_unchecked(
        new_triple(mk_resource("urn:a#x"), mk_resource("urn:a#p"), mk_literal("va", "", ""))
    )
    b.add_triple_unchecked(
        new_triple(mk_resource("urn:b#x"), mk_resource("urn:b#p"), mk_literal("vb", "", ""))
    )
    assert a.size() == 1 and b.size() == 1
    assert a.get_all_triples()[0].object == '"va"'
    assert b.get_all_triples()[0].object == '"vb"'


def test_typed_literal_binding_round_trip(endpoint):
    c = endpoint.client("urn:t")
    t = new_triple(
        mk_resource("urn:t#x"),
        mk_resource("urn:t#p"),
        mk_literal("3.5", "", "http://www.w3.org/2001/XMLSchema#decimal"),
    )
    c.add_triple_unchecked(t)
    # term → binding (endpoint) → term (client) must be lossless
    assert c.get_all_triples() == [t]
    # a prologue before the DATA forms: prefixed names and datatypes
    # expand to the same encoded terms
    prologue = "PREFIX t: <urn:t#>\nPREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"
    endpoint.update(f'{prologue}INSERT DATA {{ GRAPH <urn:t> {{ t:y t:p "3.5"^^xsd:decimal }} }}')
    assert c.size() == 2
    assert c.get_first_match(mk_resource("urn:t#y"), "", "").object == t.object
    endpoint.update(f'{prologue}DELETE DATA {{ GRAPH <urn:t> {{ t:x t:p "3.5"^^xsd:decimal }} }}')
    assert [r.subject for r in c.get_all_triples()] == ["<urn:t#y>"]


def test_endpoint_rejects_unknown_update(endpoint):
    with pytest.raises(SparqlSyntaxError):
        endpoint.update("LOAD <http://x/file.ttl>")
    with pytest.raises(SparqlSyntaxError):
        endpoint.update("INSERT DATA { <urn:x> <urn:p> ?v }")  # variable in DATA


def test_construct_instantiates_template(spark, endpoint):
    c = endpoint.client("urn:c")
    c.add_triples_unchecked(
        [
            new_triple(mk_resource("urn:c#a"), mk_resource("urn:c#knows"), mk_resource("urn:c#b")),
            new_triple(mk_resource("urn:c#b"), mk_resource("urn:c#knows"), mk_resource("urn:c#c")),
        ]
    )
    # invert the edge direction and tag every node — multi-pattern template
    rows = sparql_construct(
        endpoint.store_for("urn:c").df(),
        """
        CONSTRUCT {
            ?y <urn:c#knownBy> ?x .
            ?x a <urn:c#Node> .
        } WHERE { ?x <urn:c#knows> ?y }
        """,
    ).collect()
    got = {tuple(r) for r in rows}
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    assert got == {
        ("<urn:c#b>", "<urn:c#knownBy>", "<urn:c#a>"),
        ("<urn:c#c>", "<urn:c#knownBy>", "<urn:c#b>"),
        ("<urn:c#a>", rdf_type, "<urn:c#Node>"),
        ("<urn:c#b>", rdf_type, "<urn:c#Node>"),
    }


def test_construct_spo_is_identity_export(client):
    """The reference's export query (blazegraph_store.go:329) — CONSTRUCT
    { ?s ?p ?o } over the graph — reproduces the triple set exactly."""
    df = sparql_construct(
        client._endpoint.store_for(GRAPH_URI).df(),
        f"CONSTRUCT {{ ?s ?p ?o }} WHERE {{ GRAPH <{GRAPH_URI}> {{ ?s ?p ?o }} }}",
    )
    got = {tuple(r) for r in df.collect()}
    assert got == {(t.subject, t.predicate, t.object) for t in TRIPLES}


def test_endpoint_answers_construct_and_describe(client, endpoint):
    U = GRAPH_URI
    res = endpoint.query(
        f"CONSTRUCT {{ ?s <urn:out#p> ?o }} WHERE {{ ?s <{U}#rel-1> ?o }}"
    )
    assert res["head"]["vars"] == ["subj", "pred", "obj"]
    assert len(res["results"]["bindings"]) == 3
    assert all(
        b["pred"]["value"] == "urn:out#p" for b in res["results"]["bindings"]
    )
    res = endpoint.query(f"DESCRIBE <{U}#c>")
    assert len(res["results"]["bindings"]) == 3
    assert {b["subj"]["value"] for b in res["results"]["bindings"]} == {f"{U}#c"}


def test_template_insert_where(endpoint, client):
    """INSERT { … } WHERE { … }: derive a triple per rel-1 target,
    committed distributed into the target graph (merge_df)."""
    U = GRAPH_URI
    endpoint.update(
        f"INSERT {{ GRAPH <{U}> {{ ?o <{U}#derived> <{U}#yes> }} }} "
        f"WHERE {{ <{U}> <{U}#rel-1> ?o }}"
    )
    got = client.get_all_matches("", mk_resource(f"{U}#derived"), "")
    assert {t.subject for t in got} == {
        f"<{U}#a>",
        f"<{U}#b>",
        f"<{U}#c>",
    }
    # idempotent: re-running merges nothing new
    endpoint.update(
        f"INSERT {{ GRAPH <{U}> {{ ?o <{U}#derived> <{U}#yes> }} }} "
        f"WHERE {{ <{U}> <{U}#rel-1> ?o }}"
    )
    assert client.size() == 10


def test_template_delete_where(endpoint, client):
    U = GRAPH_URI
    endpoint.update(
        f"DELETE {{ GRAPH <{U}> {{ <{U}> <{U}#rel-1> ?o }} }} "
        f"WHERE {{ <{U}> <{U}#rel-1> ?o . ?o <{U}#rel-2> ?x }}"
    )
    # only <U> rel-1 <U#a> had a rel-2 continuation — one row gone
    assert client.size() == 6
    left = client.get_all_matches(mk_resource(U), mk_resource(f"{U}#rel-1"), "")
    assert {t.object for t in left} == {f"<{U}#b>", f"<{U}#c>"}
    # DELETE WHERE is the same Modify with the WHERE group as template:
    # the patterns join and a repeated variable binds one value, with or
    # without a prologue (SPARQL 1.1 Update §3.1.3.3)
    loop = new_triple(mk_resource(f"{U}#a"), mk_resource(f"{U}#rel-2"), mk_resource(f"{U}#a"))
    for prologue, rel1, rel2 in (
        ("", f"<{U}#rel-1>", f"<{U}#rel-2>"),
        (f"PREFIX u: <{U}#>\n", "u:rel-1", "u:rel-2"),
    ):
        client.add_triples_unchecked(TRIPLES)
        endpoint.update(
            f"{prologue}DELETE WHERE {{ GRAPH <{U}> "
            f"{{ <{U}> {rel1} ?o . ?o {rel2} ?x }} }}"
        )
        assert as_set(client.get_all_triples()) == as_set(
            [TRIPLES[1], TRIPLES[2], *TRIPLES[4:]]
        )
        client.add_triples_unchecked([TRIPLES[3], loop])
        endpoint.update(
            f"{prologue}DELETE WHERE {{ GRAPH <{U}> {{ ?s {rel2} ?s }} }}"
        )
        assert client.get_all_matches("", mk_resource(f"{U}#rel-2"), "") == [TRIPLES[3]]


def test_template_update_requires_graph_scope(endpoint, client):
    U = GRAPH_URI
    with pytest.raises(SparqlSyntaxError):
        endpoint.update(
            f"INSERT {{ ?o <{U}#d> <{U}#y> }} WHERE {{ <{U}> <{U}#rel-1> ?o }}"
        )


# ---------------------------------------------------------------------------
# Result wire formats (query/results.py)
# ---------------------------------------------------------------------------


_RESULT = {
    "head": {"vars": ["s", "v"]},
    "results": {
        "bindings": [
            {
                "s": {"type": "uri", "value": "urn:x#a"},
                "v": {"type": "literal", "value": 'say "hi",\nok'},
            },
            {
                "s": {"type": "uri", "value": "urn:x#b"},
                "v": {
                    "type": "literal",
                    "value": "bonjour",
                    "xml:lang": "fr",
                },
            },
            {
                "s": {"type": "uri", "value": "urn:x#c"},
                "v": {
                    "type": "literal",
                    "value": "3",
                    "datatype": "http://www.w3.org/2001/XMLSchema#integer",
                },
            },
            {"s": {"type": "uri", "value": "urn:x#d"}},  # ?v unbound
        ]
    },
}


def test_results_json_golden():
    from ontograph_spark.query import results_json
    import json as _json

    doc = _json.loads(results_json(_RESULT))
    assert doc["head"] == {"vars": ["s", "v"]}
    assert doc["results"]["bindings"][1]["v"]["xml:lang"] == "fr"
    assert results_json({"boolean": True}) == '{"head": {}, "boolean": true}'


def test_results_csv_golden():
    from ontograph_spark.query import results_csv

    got = results_csv(_RESULT)
    assert got == (
        "s,v\r\n"
        'urn:x#a,"say ""hi"",\nok"\r\n'
        "urn:x#b,bonjour\r\n"
        "urn:x#c,3\r\n"
        "urn:x#d,\r\n"
    )
    from ontograph_spark.query import serialize_results

    assert serialize_results({"boolean": False}, "text/csv") == "boolean\r\nfalse\r\n"


def test_results_tsv_golden():
    from ontograph_spark.query import results_tsv

    got = results_tsv(_RESULT)
    lines = got.split("\n")
    assert lines[0] == "?s\t?v"
    assert lines[1] == '<urn:x#a>\t"say \\"hi\\",\\nok"'
    assert lines[2] == '<urn:x#b>\t"bonjour"@fr'
    assert lines[3] == (
        '<urn:x#c>\t"3"^^<http://www.w3.org/2001/XMLSchema#integer>'
    )
    assert lines[4] == "<urn:x#d>\t"


def test_results_xml_golden():
    from ontograph_spark.query import results_xml

    got = results_xml(_RESULT)
    assert got.startswith(
        '<?xml version="1.0"?>'
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
        '<head><variable name="s"/><variable name="v"/></head>'
    )
    assert '<literal xml:lang="fr">bonjour</literal>' in got
    assert (
        '<literal datatype="http://www.w3.org/2001/XMLSchema#integer">3'
        "</literal>" in got
    )
    assert "say &quot;hi&quot;" in got or 'say "hi"' in got
    assert results_xml({"boolean": True}).endswith(
        "<head/><boolean>true</boolean></sparql>"
    )


def test_serialize_results_negotiation():
    from ontograph_spark.query import serialize_results
    import pytest as _pytest

    assert serialize_results(_RESULT, "application/json").startswith("{")
    assert serialize_results(
        _RESULT, "text/csv; charset=utf-8"
    ).startswith("s,v")
    with _pytest.raises(ValueError):
        serialize_results(_RESULT, "application/rdf+xml")


def test_endpoint_result_serializes_end_to_end(spark):
    """Live round trip: endpoint answers a query, every wire format
    serializes it, and the TSV cells reproduce the store's encoded
    terms exactly (TSV is the lossless format)."""
    from ontograph_spark.query import (
        LocalSparqlEndpoint,
        results_tsv,
        serialize_results,
    )
    from ontograph_spark.store.memory import MemoryQuadStore
    from ontograph_spark.ontology.resources import new_triple
    from ontograph_spark.terms import mk_literal, mk_resource

    ep = LocalSparqlEndpoint(spark, lambda uri: MemoryQuadStore(spark, uri))
    client = ep.client("urn:wire")
    client.add_triples(
        [
            new_triple(
                mk_resource("urn:wire#e"),
                mk_resource("urn:wire#says"),
                mk_literal("bonjour", "fr", ""),
            )
        ]
    )
    res = ep.query("SELECT ?o WHERE { <urn:wire#e> <urn:wire#says> ?o }")
    tsv = results_tsv(res)
    assert tsv == '?o\n"bonjour"@fr\n'
    for mt in (
        "application/sparql-results+json",
        "application/sparql-results+xml",
        "text/csv",
        "text/tab-separated-values",
    ):
        assert serialize_results(res, mt)


def test_endpoint_query_serialized(spark):
    from ontograph_spark.query import LocalSparqlEndpoint
    from ontograph_spark.store.memory import MemoryQuadStore
    from ontograph_spark.ontology.resources import new_triple
    from ontograph_spark.terms import mk_literal, mk_resource

    ep = LocalSparqlEndpoint(spark, lambda uri: MemoryQuadStore(spark, uri))
    c = ep.client("urn:ser")
    c.add_triples(
        [
            new_triple(
                mk_resource("urn:ser#e"),
                mk_resource("urn:ser#n"),
                mk_literal("v", "", ""),
            )
        ]
    )
    q = "SELECT ?o WHERE { <urn:ser#e> <urn:ser#n> ?o }"
    assert ep.query_serialized(q).startswith('{"head"')
    assert ep.query_serialized(q, "text/csv") == "o\r\nv\r\n"
    assert ep.query_serialized(q, "text/tab-separated-values") == '?o\n"v"\n'
    assert ep.query_serialized("ASK { ?s ?p ?o }", "text/csv") == (
        "boolean\r\ntrue\r\n"
    )


def test_graph_management_updates(spark):
    """CLEAR GRAPH / COPY / MOVE / ADD (SPARQL 1.1 Update §3.2)."""
    from ontograph_spark.query import LocalSparqlEndpoint
    from ontograph_spark.store.memory import MemoryQuadStore
    from ontograph_spark.ontology.resources import new_triple
    from ontograph_spark.terms import mk_literal, mk_resource

    ep = LocalSparqlEndpoint(spark, lambda uri: MemoryQuadStore(spark, uri))

    def fill(uri, *vals):
        ep.store_for(uri).add_triples_unchecked(
            [
                new_triple(
                    mk_resource(f"{uri}#e{v}"),
                    mk_resource(f"{uri}#p"),
                    mk_literal(str(v), "", ""),
                )
                for v in vals
            ]
        )

    fill("urn:src", 1, 2)
    fill("urn:dst", 9)
    # ADD unions into dst
    ep.update("ADD GRAPH <urn:src> TO GRAPH <urn:dst>")
    assert ep.store_for("urn:dst").size() == 3
    assert ep.store_for("urn:src").size() == 2
    # COPY replaces dst
    ep.update("COPY <urn:src> TO <urn:dst>")
    assert ep.store_for("urn:dst").size() == 2
    # graph column rewritten to the destination
    assert {
        r.graph for r in ep.store_for("urn:dst").df().collect()
    } == {"urn:dst"}
    # MOVE drops src afterwards
    ep.update("MOVE GRAPH <urn:src> TO GRAPH <urn:moved>")
    assert "urn:src" not in ep._stores
    assert ep.store_for("urn:moved").size() == 2
    # CLEAR empties but keeps the graph managed
    ep.update("CLEAR GRAPH <urn:moved>")
    assert ep.store_for("urn:moved").size() == 0
    assert "urn:moved" in ep._stores
    # COPY onto itself is a no-op
    ep.update("COPY <urn:dst> TO <urn:dst>")
    assert ep.store_for("urn:dst").size() == 2
    # a prologue, and prefixed graph names, in COPY / CLEAR / DROP
    ep.update("PREFIX ex: <urn:>\nCOPY ex:dst TO GRAPH ex:copied")
    assert ep.store_for("urn:copied").size() == 2
    ep.update("PREFIX ex: <urn:>\nCLEAR GRAPH ex:copied")
    assert ep.store_for("urn:copied").size() == 0
    ep.update("PREFIX ex: <urn:>\nDROP GRAPH <urn:copied>")
    assert "urn:copied" not in ep._stores


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update: WITH / USING / combined DELETE+INSERT / LOAD
# ---------------------------------------------------------------------------


def test_with_clause_scopes_template_and_where(endpoint, client):
    """WITH <g> supplies the GRAPH scope for un-scoped templates and the
    WHERE default graph (§3.1.3)."""
    U = GRAPH_URI
    endpoint.update(
        f"WITH <{U}> INSERT {{ ?o <{U}#seen> <{U}#yes> }} "
        f"WHERE {{ <{U}> <{U}#rel-1> ?o }}"
    )
    got = client.get_all_matches("", mk_resource(f"{U}#seen"), "")
    assert {t.subject for t in got} == {f"<{U}#a>", f"<{U}#b>", f"<{U}#c>"}


def test_combined_delete_insert_same_solutions(endpoint, client):
    """DELETE { } INSERT { } WHERE { }: both templates instantiate
    against the SAME pre-update solutions — a rename executed as
    delete-then-insert must not lose rows to the intermediate state."""
    U = GRAPH_URI
    endpoint.update(
        f"WITH <{U}> DELETE {{ <{U}> <{U}#rel-1> ?o }} "
        f"INSERT {{ <{U}> <{U}#renamed> ?o }} "
        f"WHERE {{ <{U}> <{U}#rel-1> ?o }}"
    )
    assert client.get_all_matches("", mk_resource(f"{U}#rel-1"), "") == []
    renamed = client.get_all_matches("", mk_resource(f"{U}#renamed"), "")
    assert {t.object for t in renamed} == {f"<{U}#a>", f"<{U}#b>", f"<{U}#c>"}


def test_using_overrides_with_for_where(endpoint, client):
    """USING <g> mirrors FROM for the WHERE clause and overrides WITH:
    a WHERE over an empty USING graph matches nothing even though the
    WITH graph has data."""
    U = GRAPH_URI
    endpoint.store_for("urn:empty-using")  # managed but empty
    endpoint.update(
        f"WITH <{U}> INSERT {{ ?s <{U}#ghost> <{U}#yes> }} "
        f"USING <urn:empty-using> WHERE {{ ?s <{U}#rel-1> ?o }}"
    )
    assert client.get_all_matches("", mk_resource(f"{U}#ghost"), "") == []


def test_load_ntriples_and_nquads(endpoint, tmp_path):
    """LOAD <doc> INTO GRAPH <g> (N-Triples) and LOAD <doc> (N-Quads,
    each quad routed to its own named graph); SILENT swallows a missing
    file."""
    nt = tmp_path / "d.nt"
    nt.write_text('<u:a> <u:p> "one" .\n<u:b> <u:p> "two" .\n')
    endpoint.update(f"LOAD <file://{nt}> INTO GRAPH <urn:loaded>")
    assert endpoint.client("urn:loaded").size() == 2
    nq = tmp_path / "d.nq"
    nq.write_text(
        '<u:c> <u:p> "three" <urn:lg1> .\n<u:d> <u:p> "four" <urn:lg2> .\n'
    )
    endpoint.update(f"LOAD <file://{nq}>")
    assert endpoint.client("urn:lg1").size() == 1
    assert endpoint.client("urn:lg2").size() == 1
    # SILENT: missing file leaves stores unchanged, no error
    endpoint.update(f"LOAD SILENT <file://{tmp_path}/missing.nt> INTO GRAPH <urn:loaded>")
    assert endpoint.client("urn:loaded").size() == 2
    with pytest.raises(SparqlSyntaxError):
        endpoint.update(f"LOAD <file://{tmp_path}/missing.nt> INTO GRAPH <urn:loaded>")


def test_create_graph(endpoint):
    """CREATE [SILENT] GRAPH <g> (§3.2.1): manage the graph; duplicate
    is an error unless SILENT."""
    endpoint.update("CREATE GRAPH <urn:made>")
    assert endpoint.client("urn:made").size() == 0
    with pytest.raises(SparqlSyntaxError, match="already exists"):
        endpoint.update("CREATE GRAPH <urn:made>")
    endpoint.update("CREATE SILENT GRAPH <urn:made>")  # no-op


def test_create_load_with_prologue_and_pnames(endpoint, tmp_path):
    """A PREFIX/BASE/comment prologue must not knock CREATE/LOAD off
    their fast forms into the Modify parser, and prefixed names resolve
    as graph/source tokens."""
    endpoint.update(
        "# make it\nPREFIX ex: <urn:pfx#>\nCREATE GRAPH ex:made"
    )
    assert endpoint.client("urn:pfx#made").size() == 0
    nt = tmp_path / "p.nt"
    nt.write_text('<u:a> <u:p> "one" .\n')
    endpoint.update(
        f"PREFIX g: <urn:pfx#>\nLOAD <file://{nt}> INTO GRAPH g:loaded"
    )
    assert endpoint.client("urn:pfx#loaded").size() == 1
    with pytest.raises(SparqlSyntaxError, match="unknown prefix"):
        endpoint.update("CREATE GRAPH nope:g")


def test_load_silent_does_not_swallow_usage_error(endpoint, tmp_path):
    """LOAD SILENT swallows READ failures only — the local 'N-Triples
    needs INTO GRAPH' usage error still raises, and so does the N-Quads
    'graph-less statements' twin."""
    nt = tmp_path / "u.nt"
    nt.write_text('<u:a> <u:p> "one" .\n')
    with pytest.raises(SparqlSyntaxError, match="INTO GRAPH"):
        endpoint.update(f"LOAD SILENT <file://{nt}>")
    nq = tmp_path / "u.nq"
    nq.write_text('<u:a> <u:p> "one" .\n')  # graph-less statement
    with pytest.raises(SparqlSyntaxError, match="graph-less"):
        endpoint.update(f"LOAD SILENT <file://{nq}>")


def test_create_load_resolve_base(endpoint, tmp_path):
    """Relative IRIREFs in CREATE/LOAD resolve against the prologue's
    BASE instead of silently using the relative text."""
    endpoint.update("BASE <https://ex.org/data/>\nCREATE GRAPH <made>")
    assert endpoint.client("https://ex.org/data/made").size() == 0
    nt = tmp_path / "b.nt"
    nt.write_text('<u:a> <u:p> "one" .\n')
    endpoint.update(
        f"BASE <https://ex.org/data/>\n"
        f"LOAD <file://{nt}> INTO GRAPH <loaded>"
    )
    assert endpoint.client("https://ex.org/data/loaded").size() == 1
    # empty-prefix pname also routes to the fast form
    endpoint.update("PREFIX : <https://ex.org/p#>\nCREATE GRAPH :g")
    assert endpoint.client("https://ex.org/p#g").size() == 0


def test_with_delete_where_shorthand(endpoint, client):
    """WITH <g> DELETE WHERE { pattern } (§3.1.3.3): the WHERE group
    doubles as the delete template, scoped by WITH."""
    U = GRAPH_URI
    assert client.size() == 7
    endpoint.update(f"WITH <{U}> DELETE WHERE {{ ?s <{U}#rel-1> ?o }}")
    assert client.get_all_matches("", mk_resource(f"{U}#rel-1"), "") == []
    assert client.size() == 4
