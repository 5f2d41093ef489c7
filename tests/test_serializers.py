"""Serializer tests: ntriples (incl. pushdown), csv template ingest,
simpleobj, jsonld bind, mermaid, rdfs remap — assertion style mirrors the
reference test suite (test_serial_ntriples.py, test_serial_csv.py)."""

import io

import pytest

from conftest import REF_RES, needs_fixtures
from versa_spark import I, VLABEL_REL, VTYPE_REL, VERSA_BASEIRI
from versa_spark.serial import csv as vcsv
from versa_spark.serial import jsonld, mermaid, ntriples, rdfs, simpleobj

NT_DOC = """\
<http://www.w3.org/2001/sw/RDFCore/ntriples/> <http://purl.org/dc/elements/1.1/creator> "Dave Beckett" .
<http://www.w3.org/2001/sw/RDFCore/ntriples/> <http://purl.org/dc/elements/1.1/creator> "Art Barstow" .
<http://www.w3.org/2001/sw/RDFCore/ntriples/> <http://purl.org/dc/elements/1.1/publisher> <http://www.w3.org/> .
"""

DC_CREATOR = "http://purl.org/dc/elements/1.1/creator"
DC_PUBLISHER = "http://purl.org/dc/elements/1.1/publisher"


def test_ntriples_parse_basics():
    # reference test_serial_ntriples.py:23-38
    quads = ntriples.parse(NT_DOC)
    assert len(quads) == 3
    pub = [q for q in quads if q[1] == DC_PUBLISHER]
    assert len(pub) == 1 and isinstance(pub[0][2], I)
    creators = [q for q in quads if q[1] == DC_CREATOR]
    assert {q[2] for q in creators} == {"Dave Beckett", "Art Barstow"}
    assert not isinstance(creators[0][2], I)


def test_ntriples_pushdown_and_rdf_type():
    nt = NT_DOC + ("<http://a> "
                   "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
                   "<http://b> .\n")
    only = ntriples.parse(nt, only_rel={DC_CREATOR})
    # only_rel keeps typing (ntriples.py:54-55) + requested rel
    assert {q[1] for q in only} == {DC_CREATOR, str(VTYPE_REL)}
    excl = ntriples.parse(nt, exclude_rel={DC_CREATOR})
    assert {q[1] for q in excl} == {DC_PUBLISHER, str(VTYPE_REL)}


def test_ntriples_roundtrip_text():
    quads = ntriples.parse(NT_DOC)
    text = ntriples.write_string(quads)
    again = ntriples.parse(text)
    assert sorted(map(str, (q[2] for q in again))) == sorted(
        map(str, (q[2] for q in quads)))


def test_ntriples_df_roundtrip(spark):
    df = spark.createDataFrame([(l,) for l in NT_DOC.splitlines()],
                               "value string")
    links = ntriples.parse_df(spark, df)
    rows = links.collect()
    assert len(rows) == 3
    assert {r.target for r in rows if not r.t_iri} == {
        "Dave Beckett", "Art Barstow"}
    only = ntriples.parse_df(spark, df, only_rel={DC_CREATOR})
    assert only.count() == 2
    # round-trip through write_df
    lines = ntriples.write_df(links).collect()
    again = ntriples.parse("\n".join(r.value for r in lines))
    assert len(again) == 3


BOOKS_CSV = """\
Title,Author,Author date,ISBN,Publisher,Pub date
Half of a Yellow Sun,Chimamanda Ngozi Adichie,1977,9780008205249,Fourth Estate,2006
Things Fall Apart,Chinụalụmọgụ Achebe,1930,9781841593272,William Heinemann Ltd.,1958
"""

VLIT_TEMPLATE = """\
# @docheader

* @iri:
    * @base: https://example.org/
    * @schema: http://example.org/vocab/

# /{ISBN} [Book]

* title: {Title}
* creator: {Author}
* published: {Pub_date}
"""


def test_csv_template_parse():
    quads = vcsv.parse(BOOKS_CSV, VLIT_TEMPLATE)
    origins = {str(q[0]) for q in quads}
    assert origins == {"https://example.org/9780008205249",
                       "https://example.org/9781841593272"}
    titles = {str(q[2]) for q in quads
              if q[1] == "http://example.org/vocab/title"}
    assert titles == {"Half of a Yellow Sun", "Things Fall Apart"}
    # non-ASCII value survives (UTF-8 handling)
    assert any("Achebe" in str(q[2]) for q in quads)


def test_csv_parse_df(spark):
    rows = [("Half of a Yellow Sun", "Chimamanda Ngozi Adichie", "1977",
             "9780008205249", "Fourth Estate", "2006"),
            ("Things Fall Apart", "Chinualumogu Achebe", "1930",
             "9781841593272", "William Heinemann Ltd.", "1958")]
    df = spark.createDataFrame(
        rows, ["Title", "Author", "Author_date", "ISBN", "Publisher",
               "Pub_date"])
    links = vcsv.parse_df(df, VLIT_TEMPLATE)
    got = {(r.origin, r.rel, r.target) for r in links.collect()}
    local = {(str(o), str(r), str(t))
             for (o, r, t, _a) in vcsv.parse(BOOKS_CSV.replace(
                 "Chinụalụmọgụ", "Chinualumogu"),
                 VLIT_TEMPLATE)}
    assert got == local


def test_simpleobj_parse():
    objs = [{"id": "x1", "name": "Alpha"}, {"id": "x2", "name": "Beta"}]
    tmpl = ("# @docheader\n\n* @iri:\n    * @base: http://example.org/\n\n"
            "# {id} [Thing]\n\n* name: {name}\n")
    quads = simpleobj.parse(objs, tmpl)
    names = {str(q[2]) for q in quads
             if str(q[1]).endswith("name")}
    assert names == {"Alpha", "Beta"}


def test_jsonld_bind_nesting():
    A, B = I("http://x.org/a"), I("http://x.org/b")
    quads = [
        (A, VTYPE_REL, I("http://x.org/T")),
        (A, I("http://x.org/knows"), B),
        (A, I("http://x.org/name"), "Alice"),
        (B, I("http://x.org/name"), "Bob"),
    ]
    out = jsonld.bind(quads, context={"@vocab": "http://x.org/",
                                      "@output": False})
    assert len(out) == 1
    top = out[0]
    assert top["@id"] == "http://x.org/a" and top["@type"] == "T"
    # B nested under A
    assert top["knows"]["name"] == "Bob"


def test_mermaid_write():
    A = I("http://x.org/a")
    quads = [(A, VTYPE_REL, I("http://x.org/Widget")),
             (A, VLABEL_REL, "The A"),
             (A, I("http://x.org/size"), "42")]
    text = mermaid.write(quads)
    assert text.startswith("graph TD")
    assert "fa:fa-tag" in text and "42" in text


def test_rdfs_process():
    V = VERSA_BASEIRI
    quads = [
        (I("http://x.org/C"), VTYPE_REL, V("Resource")),
        (I("http://x.org/C"), V("refines"), I("http://x.org/Base")),
        (I("http://x.org/C"), V("properties"), I("http://x.org/p")),
        (I("http://x.org/p"), V("value"), I("http://x.org/D")),
        (I("http://x.org/p"), V("value"), "Literal"),
    ]
    triples = rdfs.process(quads)
    trip_set = {(s, p, o) for (s, p, o, _i) in triples}
    assert ("http://x.org/C", rdfs.RDF_NS + "type",
            rdfs.RDFS_NS + "Class") in trip_set
    assert ("http://x.org/C", rdfs.RDFS_NS + "subClassOf",
            "http://x.org/Base") in trip_set
    assert ("http://x.org/p", rdfs.RDFS_NS + "domain",
            "http://x.org/C") in trip_set
    assert ("http://x.org/p", rdfs.RDFS_NS + "range",
            "http://x.org/D") in trip_set
    assert not any(o == "Literal" for (_s, _p, o) in trip_set)


def test_rdfs_process_df_matches_local(spark):
    from versa_spark.model import from_quads
    V = VERSA_BASEIRI
    quads = [
        (I("http://x.org/C"), VTYPE_REL, V("Resource")),
        (I("http://x.org/C"), V("refines"), I("http://x.org/Base")),
        (I("http://x.org/C"), V("properties"), I("http://x.org/p")),
        (I("http://x.org/p"), V("value"), I("http://x.org/D")),
    ]
    df = from_quads(spark, quads)
    got = {(r.s, r.p, r.o) for r in rdfs.process_df(df).collect()}
    local = {(s, p, o) for (s, p, o, _i) in rdfs.process(quads)}
    assert got == local


RDFA_DOC = """\
<html><body vocab="http://schema.org/">
  <div resource="http://example.org/book1" typeof="Book">
    <span property="name">The Catcher in the Rye</span>
    <a property="url" href="http://example.org/b1.html">link</a>
    <meta property="isbn" content="0316769487">
    <div property="author" typeof="Person">
      <span property="name">J. D. Salinger</span>
    </div>
  </div>
  <p prefix="dc: http://purl.org/dc/terms/">
    <span about="x" property="dc:subject"
          resource="http://example.org/book1">x</span>
  </p>
</body></html>
"""


def test_rdfalite_parse():
    from versa_spark.serial import rdfalite
    triples = rdfalite.parse(RDFA_DOC, "http://example.org/doc")
    trip = {(str(s), str(p), str(o)) for (s, p, o) in triples}
    B = "http://example.org/book1"
    RDF_TYPE = rdfalite.RDF_NS + "type"
    assert (B, RDF_TYPE, "http://schema.org/Book") in trip
    assert (B, "http://schema.org/name", "The Catcher in the Rye") in trip
    assert (B, "http://schema.org/url", "http://example.org/b1.html") in trip
    assert (B, "http://schema.org/isbn", "0316769487") in trip
    # nested typeof without resource → blank node, typed Person, named
    bnodes = {s for (s, p, o) in triples
              if str(s).startswith("__VERSABLANKNODE__")}
    assert len(bnodes) == 1
    bn = str(next(iter(bnodes)))
    assert (B, "http://schema.org/author", bn) in trip
    assert (bn, RDF_TYPE, "http://schema.org/Person") in trip
    assert (bn, "http://schema.org/name", "J. D. Salinger") in trip
    # prefixed property via prefix= declaration
    assert any(p == "http://purl.org/dc/terms/subject"
               for (_s, p, _o) in triples)


def test_rdfalite_df(spark):
    from versa_spark.serial import rdfalite
    df = spark.createDataFrame([(RDFA_DOC,)], "html string")
    links = rdfalite.parse_html_df(df)
    rows = links.collect()
    local = rdfalite.parse(RDFA_DOC, "http://example.org/doc/0")
    assert len(rows) == len(local) > 5


def test_jsonld_bind_df(spark):
    from versa_spark.model import from_quads
    A, B = I("http://x.org/a"), I("http://x.org/b")
    quads = [
        (A, VTYPE_REL, I("http://x.org/T")),
        (A, I("http://x.org/name"), "Alice"),
        (B, I("http://x.org/name"), "Bob"),
    ]
    docs = jsonld.bind_df(from_quads(spark, quads)).collect()
    import json
    by_id = {r["@id"]: json.loads(r.doc) for r in docs}
    assert set(by_id) == {str(A), str(B)}
    a_rels = {l["rel"]: l["target"] for l in by_id[str(A)]["links"]}
    assert a_rels["http://x.org/name"] == "Alice"


# ---------------------------------------------------------------------------
# Legacy markdown_parse config surface (reference serial/markdown_parse.py,
# tested by test/py/test_parsemd.py:44-83)
# ---------------------------------------------------------------------------

H5 = "http://www.w3.org/TR/html5/"


def _parsemd_config():
    VB = str(VERSA_BASEIRI)
    return {
        "autotype-h1": "http://example.org/r1",
        "autotype-h2": "http://example.org/r2",
        "interpretations": {
            VB + "refines": VB + "resourceset",
            VB + "properties": VB + "resourceset",
            VB + "synonyms": VB + "resourceset",
        },
    }


@needs_fixtures
@pytest.mark.parametrize("fixture", ["doc1.md", "doc1.abbr.md"])
def test_parsemd_doc1_parity(fixture):
    """Reproduces the reference's test_versa_syntax1 exact assertions: both
    the explicit and the @docheader-abbreviated form of doc1 yield the
    same 6 links."""
    from versa_spark.serial import literate
    text = open(f"{REF_RES}/{fixture}").read()
    quads, _ = literate.parse_to_quads(text, config=_parsemd_config())
    results = [(str(o), str(r), str(t), dict(a)) for (o, r, t, a) in quads]
    assert len(results) == 6
    ndewo = "http://uche.ogbuji.net/ndewo/"
    uche = "http://uche.ogbuji.net/"
    assert (ndewo, str(VTYPE_REL), H5 + "#Document", {}) in results
    assert (ndewo, H5 + "title", "Ndewo, Colorado", {}) in results
    assert (ndewo, H5 + "link-type/author", uche,
            {H5 + "link/description": "Uche Ogbuji"}) in results
    assert (ndewo, H5 + "link-type/see-also",
            "http://www.goodreads.com/book/show/18714145-ndewo-colorado",
            {H5 + "link/label": "Goodreads"}) in results
    assert (uche, str(VTYPE_REL), H5 + "#Document", {}) in results
    assert (uche, H5 + "link-type/see-also", ndewo, {}) in results


def test_autotype_headers_assign_types():
    """autotype-h1/h2/h3: header level assigns a default resource type when
    the section has no explicit [Type] (markdown_parse.py:330-334)."""
    from versa_spark.serial import literate
    doc = """# @docheader

* @iri:
    * @base: http://example.org/
    * @schema: http://example.org/v/

# res1

* name: "One"

## res2 [SpecialType]

* name: "Two"

### res3

* name: "Three"
"""
    quads, _ = literate.parse_to_quads(doc, config={
        "autotype-h1": "http://example.org/T1",
        "autotype-h2": "http://example.org/T2",
        "autotype-h3": "http://example.org/T3"})
    types = {str(o): str(t) for (o, r, t, a) in quads
             if str(r) == str(VTYPE_REL)}
    assert types["http://example.org/res1"] == "http://example.org/T1"
    # explicit [Type] wins over the level autotype
    assert types["http://example.org/res2"] == "http://example.org/v/SpecialType"
    assert types["http://example.org/res3"] == "http://example.org/T3"


def test_flattener(spark):
    """Schematic attribute flattening (reference serial/flattener.py's
    documented intent): attributed links → attr-free links + derived
    statements per pattern."""
    from versa_spark.model import from_quads
    from versa_spark.serial import flattener
    quads = [
        ("http://a", "http://v/author", I("http://p1"),
         {"http://v/role": "editor", "http://v/order": "1"}),
        ("http://a", "http://v/author", I("http://p2"),
         {"http://v/role": "writer"}),
        ("http://a", "http://v/title", "A Book", {"@lang": "en"}),
    ]
    links = from_quads(spark, quads)
    out = flattener.flatten(links, [
        ("http://v/author", "http://v/role", "http://v/hasRole"),
        ("http://v/author", "http://v/order", "http://v/authorOrder",
         "origin"),
    ])
    rows = {(r.origin, r.rel, r.target) for r in out.collect()}
    assert ("http://p1", "http://v/hasRole", "editor") in rows
    assert ("http://p2", "http://v/hasRole", "writer") in rows
    assert ("http://a", "http://v/authorOrder", "1") in rows
    # base links survive, attribute-free; unmatched attrs (@lang) dropped
    assert ("http://a", "http://v/title", "A Book") in rows
    assert all(len(r.attrs) == 0 for r in out.collect())
    assert out.count() == 6


def test_rdf_bnode_faking():
    """Blank-node interop (reference serial/rdf.py:25-54): bnodes fake as
    __VERSABLANKNODE__ IRIs and prep() routes them to the bnode slot."""
    b = rdfs.mock_bnode("row-42")
    assert str(b).startswith(rdfs.BNODE_PREFIX) and rdfs.is_bnode(b)
    assert rdfs.is_bnode("VERSABLANKNODE_xyz")  # reference's loose check
    assert not rdfs.is_bnode(I("http://example.org/x"))
    s, p, o = rdfs.prep(b, I("http://v/rel"), I("http://example.org/t"))
    # rdflib absent in this environment → (term, kind) tuples
    if isinstance(s, tuple):
        assert s[1] == "bnode" and p[1] == "iri" and o[1] == "iri"
        _, _, lit = rdfs.prep(I("http://a"), I("http://v/rel"), "plain")
        assert lit[1] == "literal"
    else:  # rdflib available: real BNode/URIRef terms
        import rdflib
        assert isinstance(s, rdflib.BNode)


def test_literate_write_df_parity(spark):
    """Distributed Literate writer: doc_header + write_df blocks ordered
    by origin reproduce the driver-side write(canonical=True) output
    byte-for-byte — attrs, type headers, IRI targets, schema
    abbreviation all exercised."""
    from versa_spark.model import from_quads
    from versa_spark.serial.literate import doc_header, write, write_df
    SCHEMA = "http://example.org/vocab/"
    quads = [
        ("http://example.org/r2", f"{SCHEMA}title", "Second", {}),
        ("http://example.org/r1", str(VTYPE_REL),
         f"{SCHEMA}Book", {}),
        ("http://example.org/r1", f"{SCHEMA}title", "First",
         {f"{SCHEMA}lang": "en", "http://other.org/note": "a \"note\""}),
        ("http://example.org/r1", f"{SCHEMA}author",
         I("http://example.org/a1"), {}),
        ("http://example.org/r3", str(VTYPE_REL), f"{SCHEMA}Book", {}),
        ("http://example.org/r3", str(VTYPE_REL),
         f"{SCHEMA}Antique", {}),
    ]
    model = from_quads(spark, quads)
    buf = io.StringIO()
    write(model, out=buf, schema=SCHEMA, canonical=True)
    blocks = write_df(model, schema=SCHEMA).collect()
    assert len(blocks) == 3     # one row per origin
    doc = doc_header(schema=SCHEMA) + "".join(
        r.block for r in sorted(blocks, key=lambda r: r.origin))
    assert doc == buf.getvalue()


def test_parse_df_drops_unsupported_object_shapes(spark, tmp_path):
    """parse_df must not fabricate empty-string literals for lines whose
    object is lang-tagged, typed, escaped, blank-node, or N-Quads — the
    driver-side parse() skips those, and the two surfaces must agree."""
    from versa_spark.serial import ntriples
    lines = [
        '<http://x/s> <http://x/p> <http://x/o> .',        # ok: IRI
        '<http://x/s> <http://x/p> "lit" .',               # ok: literal
        '<http://x/s> <http://x/p> "" .',                  # ok: EMPTY literal
        '<http://x/s> <http://x/p> "foo"@en .',            # lang tag
        '<http://x/s> <http://x/p> "1"^^<http://t> .',     # typed
        '<http://x/s> <http://x/p> "a\\"b" .',             # escaped quote
        '<http://x/s> <http://x/p> _:b0 .',                # blank node
        '<http://x/s> <http://x/p> <http://x/o> <http://g> .',  # N-Quads
    ]
    f = tmp_path / "in.nt"
    f.write_text("\n".join(lines) + "\n")
    out = ntriples.parse_df(spark, str(f)).collect()
    targets = sorted((r.target, r.t_iri) for r in out)
    # exactly the three supported lines survive — including the LEGAL
    # empty literal, which must be distinguishable from "no match"
    assert targets == [("", False), ("http://x/o", True), ("lit", False)]
    # parity: the driver-side parse keeps the same three
    driver = ntriples.parse("\n".join(lines[:6] + lines[7:]))
    assert len(driver) == 3
