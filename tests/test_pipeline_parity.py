"""End-to-end pipeline parity with the reference test suite.

Reproduces /root/reference/test/py/test_pipeline.py (test_basics_1..5):
exact output link counts, typed-origin counts, link probes, and the exact
hashed resource ID I('i5GvPVm7ClA') (test_pipeline.py:414-415).  Pure
LocalModel execution — the Spark fan-out is covered in
test_pipeline_spark.py.
"""

import os

from conftest import REF_RES, needs_fixtures
from versa_spark import I, VTYPE_REL
from versa_spark.local import LocalModel, all_origins
from versa_spark.pipeline import (
    action_template, follow, generic_pipeline, link, lookup, materialize,
    origin, target, var,
)
from versa_spark.serial.literate import parse_to_quads

SCH = I("https://schema.org/")
BF = I("http://bibfra.me/")
WT = BF("Work")
IT = BF("Instance")

LABELIZE_RULES = {
    BF("Work"): follow(BF("name")),
    BF("Instance"): follow(BF("name")),
    BF("Person"): follow(BF("name")),
}


def load_fixture(relpath) -> LocalModel:
    with open(os.path.join(REF_RES, relpath)) as f:
        quads, _ = parse_to_quads(f.read())
    return LocalModel(quads)


def catcher_fingerprint_rules():
    return {
        SCH("Book"): materialize(
            BF("Instance"),
            fprint=[(BF("isbn"), follow(SCH("isbn")))]),
    }


def author_transform(preserve_fprint=False, extra_fprint=(), extra_links=()):
    return materialize(
        BF("Person"), BF("creator"),
        vars={"birthDate": follow(SCH("authorBirthDate"),
                                  origin=var("input-resource"))},
        fprint=[(BF("name"), target()),
                (BF("birthDate"), var("birthDate"))] + list(extra_fprint),
        links=[(BF("name"), target()),
               (BF("birthDate"), var("birthDate"))] + list(extra_links),
        preserve_fprint=preserve_fprint)


@needs_fixtures
def test_basics_1():
    modin = load_fixture("schemaorg/catcherintherye-ugly.md")
    TRANSFORM_RULES = {
        SCH("name"): link(rel=BF("name")),
        SCH("author"): author_transform(),
    }
    ppl = generic_pipeline(catcher_fingerprint_rules(), TRANSFORM_RULES,
                           LABELIZE_RULES)
    modout = ppl.run(input_model=modin)
    assert len(modout) == 8
    assert len(all_origins(modout, only_types={BF("Instance")})) == 1
    assert len(all_origins(modout, only_types={BF("Person")})) == 1
    assert len(list(modout.match(None, BF("birthDate"), "1919-01-01"))) == 1


@needs_fixtures
def test_basics_2():
    modin = load_fixture("schemaorg/catcherintherye-ugly.md")
    TRANSFORM_RULES = {
        SCH("name"): link(rel=BF("name")),
        SCH("author"): author_transform(preserve_fprint=True),
    }
    ppl = generic_pipeline(catcher_fingerprint_rules(), TRANSFORM_RULES,
                           LABELIZE_RULES)
    modout = ppl.run(input_model=modin)
    assert len(modout) == 9
    assert len(all_origins(modout, only_types={BF("Instance")})) == 1
    assert len(all_origins(modout, only_types={BF("Person")})) == 1
    assert len(list(modout.match(None, BF("birthDate"), "1919-01-01"))) == 1

    # Re-run with a redundant type assertion in the fingerprint: same IDs,
    # same model after union (reference test_pipeline.py:145-174)
    TRANSFORM_RULES[SCH("author")] = author_transform(
        preserve_fprint=True, extra_fprint=[(VTYPE_REL, BF("Person"))])
    ppl2 = generic_pipeline(catcher_fingerprint_rules(), TRANSFORM_RULES,
                            LABELIZE_RULES)
    modout.update(ppl2.run(input_model=load_fixture(
        "schemaorg/catcherintherye-ugly.md")))
    assert len(modout) == 9
    assert len(all_origins(modout, only_types={BF("Instance")})) == 1
    assert len(all_origins(modout, only_types={BF("Person")})) == 1


def novelist_author_transform():
    return materialize(
        BF("Person"), BF("creator"),
        vars={"birthDate": follow(SCH("authorBirthDate"),
                                  origin=var("input-resource"))},
        fprint=[(VTYPE_REL, SCH("Novelist")),
                (BF("name"), target()),
                (BF("birthDate"), var("birthDate"))],
        links=[(VTYPE_REL, SCH("Novelist")),
               (BF("name"), target()),
               (BF("birthDate"), var("birthDate"))],
        preserve_fprint=True)


@needs_fixtures
def test_basics_3():
    modin = load_fixture("schemaorg/catcherintherye-ugly.md")
    FINGERPRINT_RULES = {
        SCH("Book"): materialize(
            var("itype"),
            fprint=[(BF("isbn"), follow(SCH("isbn")))],
            links=[(BF("instantiates"), materialize(
                BF("Work"),
                fprint=[(BF("name"), follow(SCH("title"))),
                        (BF("creator"), follow(SCH("author"))),
                        (BF("language"), var("lang"))],
                links=[("http://instantiated-by", var("@stem"))],
                attach=False))],
            vars={"lang": follow(SCH("inLanguage")),
                  "itype": BF("Instance")}),
    }
    TRANSFORM_RULES = {
        (SCH("name"), WT, IT): link(rel=BF("name")),
        (SCH("author"), WT): novelist_author_transform(),
    }
    ppl = generic_pipeline(FINGERPRINT_RULES, TRANSFORM_RULES, LABELIZE_RULES)
    modout = ppl.run(input_model=modin)
    assert len(modout) == 15
    assert len(all_origins(modout, only_types={BF("Instance")})) == 1
    assert len(all_origins(modout, only_types={BF("Work")})) == 1
    assert len(all_origins(modout, only_types={BF("Person")})) == 1
    assert len(list(modout.match(None, BF("birthDate"), "1919-01-01"))) == 1


@needs_fixtures
def test_basics_4():
    modin = load_fixture("schemaorg/catcherintherye-ugly.md")
    new_work = action_template(
        materialize(
            BF("Work"),
            fprint=[(BF("name"), var("title")),
                    (BF("creator"), var("author")),
                    (BF("language"), var("lang"))],
            links=[("http://instantiated-by", var("stem"))],
            attach=False))
    FINGERPRINT_RULES = {
        SCH("Book"): materialize(
            BF("Instance"),
            fprint=[(BF("isbn"), follow(SCH("isbn")))],
            links=[(BF("instantiates"), new_work(
                title=follow(SCH("title")),
                creator=follow(SCH("author")),
                lang=var("lang"),
                stem=origin()))],
            vars={"lang": follow(SCH("inLanguage"))}),
    }
    TRANSFORM_RULES = {
        (SCH("name"), WT, IT): link(rel=BF("name")),
        (SCH("author"), WT): novelist_author_transform(),
    }
    ppl = generic_pipeline(FINGERPRINT_RULES, TRANSFORM_RULES, LABELIZE_RULES)
    modout = ppl.run(input_model=modin)
    assert len(modout) == 15
    assert len(all_origins(modout, only_types={BF("Instance")})) == 1
    assert len(all_origins(modout, only_types={BF("Work")})) == 1
    assert len(all_origins(modout, only_types={BF("Person")})) == 1
    assert len(list(modout.match(None, BF("birthDate"), "1919-01-01"))) == 1


def blackstar_rules():
    """The schema.org → MusicBrainz transform of reference
    test_pipeline.py:333-415 (test_basics_5)."""
    MB = I("https://musicbrainz.org/doc/MusicBrainz_Database/Schema/")
    R_TYP, RG_TYP = MB("Release"), MB("ReleaseGroup")
    FINGERPRINT_RULES = {
        SCH("MusicAlbum"): materialize(
            MB("ReleaseGroup"),
            fprint=[(MB("title"), follow(SCH("name"))),
                    (MB("artist"), follow(SCH("byArtist"), SCH("name")))],
            links=[(MB("contains"), materialize(
                MB("Release"),
                fprint=[(MB("catalogue-number"), var("catnum"))],
                links=[(MB("catalogue-number"), var("catnum"))]))],
            vars={"catnum": follow(SCH("catalogNumber"))}),
        SCH("Person"): materialize(
            MB("Artist"),
            fprint=[(MB("name"), var("aname"))],
            links=[(MB("name"), var("aname")),
                   (MB("remark"), var("comment"))],
            vars={"aname": follow(SCH("name")),
                  "comment": follow(SCH("comment"))}),
    }
    TRANSFORM_RULES = {
        (SCH("name"), R_TYP, RG_TYP): link(rel=MB("title")),
        (SCH("byArtist"), R_TYP): link(rel=MB("by"),
                                       target=lookup("@resource")),
    }
    LB_RULES = {
        MB("ReleaseGroup"): follow(MB("title")),
        MB("Release"): follow(MB("title")),
        MB("Artist"): follow(MB("name")),
    }
    return FINGERPRINT_RULES, TRANSFORM_RULES, LB_RULES, MB


@needs_fixtures
def test_basics_5():
    DOC = I("http://example.org/records/")
    modin = load_fixture("schemaorg/blackstar.md")
    modin.add(DOC("md"), SCH("comment"), "test")
    FP, TR, LB, MB = blackstar_rules()
    ppl = generic_pipeline(FP, TR, LB)
    modout = ppl.run(input_model=modin)
    assert len(modout) == 16
    assert len(all_origins(modout, only_types={MB("ReleaseGroup")})) == 1
    assert len(all_origins(modout, only_types={MB("Artist")})) == 2
    # The exact-hash parity fixture: DOC('md') materializes to this exact ID
    assert [l[0] for l in modout.match(None, MB("remark"), "test")] == [
        I("i5GvPVm7ClA")]


INPUT_GRAPH_1 = """\
# @docheader

* @iri:
    * @base: http://example.org/records/
    * @schema: https://schema.org/

# black-star [MusicAlbum]

* name: Mos Def & Talib Kweli Are Black Star
* byArtist: <md>
* byArtist: <tk>
* inLanguage: en

# train [MusicAlbum]

* name: Train of Thought
* byArtist: <tk>
* byArtist: <ht>
* inLanguage: en

# md [Person]

* alternateName: Mos Def
* name: Yasiin Bey
* birthDate: 1973-12-11

# tk [Person]

* alternateName: Talib Kweli
* name: Talib Kweli Greene
* birthDate: 1975-10-03

# ht [Person]

* alternateName: Hi-Tek
* name: Tony Cottrell
* birthDate: 1976-05-05
"""


def test_mosdef_only_copy_filter():
    """COPY-filter pipeline (reference test_pipeline_filtering.py:74-103):
    keep albums whose byArtist includes md, plus all Persons."""
    from versa_spark.pipeline import COPY, contains, if_
    DOC = I("http://example.org/records/")
    quads, _ = parse_to_quads(INPUT_GRAPH_1)
    modin = LocalModel(quads)
    FINGERPRINT_RULES = {
        SCH("MusicAlbum"): if_(
            contains(follow(SCH("byArtist")), DOC("md")),
            materialize(COPY())),
        SCH("Person"): materialize(COPY()),
    }
    ppl = generic_pipeline(FINGERPRINT_RULES, {}, {})
    modout = ppl.run(input_model=modin)
    assert len(modout) == 17
    assert len(all_origins(modout, only_types={SCH("MusicAlbum")})) == 1
    assert len(all_origins(modout, only_types={SCH("Person")})) == 3


@needs_fixtures
def test_new_entity_hook_extras():
    """@new-entity-hook side-channel (reference
    test_pipeline_context_extras.py:44-95): each materialized resource gets
    an extra link via the hook — 2 resources materialize."""
    from versa_spark.pipeline import DUMMY_CONTEXT
    modin = load_fixture("schemaorg/catcherintherye-ugly.md")
    TRANSFORM_RULES = {
        SCH("name"): link(rel=BF("name")),
        SCH("author"): author_transform(),
    }
    modout = LocalModel()

    def new_entity_hook(eid):
        modout.add(eid, "http://example.org/materializedBy", "py.test")

    root_ctx = DUMMY_CONTEXT.copy(
        output_model=modout, extras={"@new-entity-hook": new_entity_hook})
    ppl = generic_pipeline(catcher_fingerprint_rules(), TRANSFORM_RULES,
                           LABELIZE_RULES, root_ctx=root_ctx)
    ppl.run(input_model=modin, output_model=modout)
    assert len(list(modout.match(
        None, "http://example.org/materializedBy", None))) == 2
