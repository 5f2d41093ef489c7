"""Versa Literate (Markdown-flavored) parser and writer.

Semantics mirror the reference parser
(/root/reference/tools/py/serial/literate_pure_helper.py:134-331) and writer
(/root/reference/tools/py/serial/literate.py:80-132), re-implemented as a
hand-rolled line parser (no pyparsing).  Format:

    # @docheader            -- document header
    * @iri:
        * @base: http://...         (resource + resource-type base)
        * @schema: http://...       (property base)
        * @resource-type: http://...(resource-type base override)
    # rid [Type]            -- resource block
    * key: value            -- property (value: <iri>, "literal", or raw)
        * akey: avalue      -- attribute of the preceding property

Rule/fixture documents are small and parsed driver-side; for bulk corpora
use ``parse_batched_df`` (mapInPandas over a text DataFrame).
"""

from __future__ import annotations

import re
import sys
from dataclasses import dataclass, field

from versa_spark import I, VERSA_BASEIRI, VERSA_NULL, VTYPE_REL
from versa_spark.iri import absolutize
from versa_spark.model import from_quads

_COMMENT_PAT = re.compile(r"<!--.*?-->", re.DOTALL)
_HEADER_PAT = re.compile(r"^(#+)\s*(.*?)\s*$")
_TYPE_SUFFIX_PAT = re.compile(r"\[([^\]]*)\]\s*$")
_PROP_PAT = re.compile(r"^([ \t]*)\*\s+(.*)$")
_EXPLICIT_IRI_PAT = re.compile(r"^<(.+)>$", re.DOTALL)

TEXT_VAL, RES_VAL, UNKNOWN_VAL = 1, 2, 3


@dataclass
class _DocInfo:
    iri: str | None = None
    resbase: str | None = None
    schemabase: str | None = None
    rtbase: str | None = None
    lang: str | None = None
    iris: dict = field(default_factory=dict)
    interp: dict = field(default_factory=dict)


def expand_iri(iri_in, base, relcontext=None):
    """IRI expansion per the reference (literate_pure_helper.py:193-211):
    ``@name`` → VERSA_BASEIRI + name; ``<...>`` explicit; else resolve
    against *base*."""
    if iri_in is None:
        return VERSA_NULL
    if iri_in.startswith("@"):
        return I(absolutize(iri_in[1:], str(VERSA_BASEIRI)))
    m = _EXPLICIT_IRI_PAT.match(iri_in)
    if m:
        inner = m.group(1)
        return inner if base is None else I(absolutize(inner, base))
    return I(iri_in if base is None else absolutize(iri_in, base))


def _split_key_value(body: str):
    """Split a property body ``key: value`` at the key-terminating colon.
    Keys may be ``<iri>`` (contains colons), ``@ident`` or bare idents."""
    if body.startswith("<"):
        end = body.index(">")
        key = body[: end + 1]
        rest = body[end + 1:]
        if not rest.lstrip().startswith(":"):
            raise ValueError(f"Malformed property line: {body!r}")
        value = rest.lstrip()[1:]
    else:
        key, _, value = body.partition(":")
        key = key.strip()
    return key, value


def _parse_value(raw: str | None):
    """→ (value, typeindic). ``<iri>`` → RES_VAL, quoted → TEXT_VAL,
    else raw stripped text → UNKNOWN_VAL (the reference's value_expr,
    literate_pure_helper.py:101-116)."""
    if raw is None:
        return "", UNKNOWN_VAL
    s = raw.strip()
    m = _EXPLICIT_IRI_PAT.match(s)
    if m:
        return m.group(1), RES_VAL
    if len(s) >= 2 and s[0] in "\"'" and s[-1] == s[0]:
        body = s[1:-1].replace("\\" + s[0], s[0])
        return body, TEXT_VAL
    return s, UNKNOWN_VAL


@dataclass
class _Prop:
    indent: int
    key: str
    value: str | None
    typeindic: int


def _tokenize(vlit: str):
    """→ list of (header | props) blocks."""
    text = _COMMENT_PAT.sub("", vlit)
    blocks = []
    current = None
    for line in text.split("\n"):
        h = _HEADER_PAT.match(line)
        if h and line.lstrip().startswith("#"):
            rest = h.group(2)
            rtype = None
            tm = _TYPE_SUFFIX_PAT.search(rest)
            if tm:
                rtype = tm.group(1)
                rest = rest[: tm.start()].strip()
            rid = rest or None
            current = {"rid": rid, "rtype": rtype, "props": [],
                       "level": len(h.group(1))}
            blocks.append(current)
            continue
        p = _PROP_PAT.match(line)
        if p and current is not None:
            key, value = _split_key_value(p.group(2))
            val, ti = _parse_value(value)
            current["props"].append(
                _Prop(indent=len(p.group(1).expandtabs(4)), key=key,
                      value=val, typeindic=ti))
    return blocks


def _setup_interpretations(interp: dict) -> dict:
    out = {}
    for prop, key in interp.items():
        if isinstance(key, str) and key.startswith("@"):
            key = absolutize(key[1:], str(VERSA_BASEIRI))
        out[prop] = PREP_METHODS.get(key, lambda x, **kw: x)
    return out


def handle_resourceset(ltext, **kwargs):
    """Split whitespace-separated IRIs into separate links (reference
    literate_pure_helper.py:334-345)."""
    out = kwargs["_sink"]
    base = kwargs.get("base") or str(VERSA_BASEIRI)
    for ref in ltext.strip().split():
        out.append((kwargs["rid"], kwargs["fullprop"],
                    I(absolutize(ref, base)), {}))
    return None


PREP_METHODS = {
    str(VERSA_BASEIRI) + "text": lambda x, **kw: x,
    str(VERSA_BASEIRI) + "resource":
        lambda x, base=None, **kw: I(absolutize(x, base or str(VERSA_BASEIRI))),
    str(VERSA_BASEIRI) + "resourceset": handle_resourceset,
}


def parse_to_quads(vlit: str, config: dict | None = None):
    """Parse Versa Literate text → (quads list, doc base IRI).

    ``config`` carries the legacy markdown_parse surface (reference
    serial/markdown_parse.py:119-127, tested by test/py/test_parsemd.py):
    ``autotype-h1``/``autotype-h2``/``autotype-h3`` assign a default
    resource type by header level when a section header carries no
    explicit ``[Type]``, and ``interpretations`` maps property IRIs to
    value-prep methods (@text / @resource / @resourceset)."""
    config = config or {}
    doc = _DocInfo(interp=_setup_interpretations(
        config.get("interpretations", {})))
    syntaxtypemap = {
        level: config[key] for level, key in
        ((1, "autotype-h1"), (2, "autotype-h2"), (3, "autotype-h3"))
        if config.get(key)}
    quads: list = []

    for block in _tokenize(vlit):
        if block["rid"] == "@docheader":
            _process_docheader(block["props"], quads, doc)
        else:
            _process_resblock(block, quads, doc, syntaxtypemap)
    return quads, doc.iri


def _apply_interp(doc, fullprop, value, rid, quads):
    fn = doc.interp[fullprop]
    return fn(value, rid=rid, fullprop=fullprop, base=doc.iri,
              _sink=quads)


def _process_resblock(block, quads, doc, syntaxtypemap=None):
    rid = expand_iri(block["rid"], doc.resbase)
    # explicit [Type] wins; else the header level's autotype (reference
    # markdown_parse.py:330-334: "Resource type might be set by syntax
    # config" — the syntaxtypemap value is used as-is, not re-expanded)
    if block["rtype"]:
        quads.append((rid, VTYPE_REL,
                      expand_iri(block["rtype"], doc.schemabase), {}))
    elif syntaxtypemap and block.get("level") in syntaxtypemap:
        quads.append((rid, VTYPE_REL,
                      I(syntaxtypemap[block["level"]]), {}))

    outer_indent = -1
    current = None
    attrs: dict = {}
    for prop in block["props"]:
        if outer_indent == -1:
            outer_indent = prop.indent
        if prop.indent == outer_indent:
            if current is not None:
                quads.append((rid, current[0], current[1], attrs))
            attrs = {}
            key = expand_iri(prop.key, doc.schemabase)
            value, ti = prop.value, prop.typeindic
            if ti == RES_VAL:
                value = expand_iri(f"<{value}>", doc.rtbase, relcontext=key)
            elif ti == TEXT_VAL:
                value = str(value)
                if "@lang" not in attrs and doc.lang:
                    attrs["@lang"] = doc.lang
            else:
                if key in doc.interp:
                    value = _apply_interp(doc, key, str(value), rid, quads)
            current = (key, value)
        else:
            # attribute of the current outer property (reference branch at
            # literate_pure_helper.py:262-285 — note its atype is always
            # UNKNOWN_VAL, so explicit-IRI attr values are stored as plain
            # strings)
            fullaprop = expand_iri(prop.key, doc.schemabase)
            aval = prop.value
            if prop.typeindic == RES_VAL:
                aval = str(expand_iri(f"<{aval}>", doc.rtbase))
            elif fullaprop in doc.interp:
                aval = _apply_interp(doc, fullaprop, str(aval), rid, quads)
            else:
                aval = str(aval)
            if aval is not None:
                attrs[fullaprop] = aval
    if current is not None:
        quads.append((rid, current[0], current[1], attrs))


def _process_docheader(props, quads, doc):
    outer_indent = -1
    current_key = None
    for prop in props:
        if outer_indent == -1:
            outer_indent = prop.indent
        if prop.indent == outer_indent:
            current_key = prop.key
            if prop.key == "@document":
                doc.iri = prop.value
            elif prop.key == "@language":
                doc.lang = prop.value
            elif doc.iri:
                fullprop = I(absolutize(prop.key, doc.schemabase))
                if fullprop in doc.interp:
                    val = _apply_interp(doc, fullprop, prop.value, doc.iri,
                                        quads)
                    if val is not None:
                        quads.append((doc.iri, fullprop, val, {}))
                else:
                    quads.append((doc.iri, fullprop, prop.value, {}))
        elif current_key == "@iri":
            k, uri = prop.key, prop.value
            if k == "@base":
                doc.resbase = doc.rtbase = uri
            elif k == "@schema":
                doc.schemabase = uri
            elif k == "@resource-type":
                doc.rtbase = uri
            else:
                doc.iris[k] = uri
        elif current_key == "@interpretations":
            fullprop = I(absolutize(prop.key, doc.schemabase))
            doc.interp.update(_setup_interpretations({fullprop: prop.value}))


def parse_df(docs_df, text_col: str = "vlit"):
    """Bulk Literate parsing: DataFrame with one Literate document per row
    → link DataFrame, parsed per Arrow batch inside mapInPandas (each
    document is an independent subgraph — same fan-out shape as the KG
    job's per-conversation rule application)."""
    from versa_spark.model import LINK_SCHEMA
    from versa_spark.shipping import ensure_shipped
    ensure_shipped(docs_df.sparkSession)

    def _batches(pdf_iter):
        import pandas as pd
        from versa_spark.model import quads_to_rows
        for pdf in pdf_iter:
            all_quads = []
            for text in pdf[text_col]:
                if not text:
                    continue
                quads, _ = parse_to_quads(str(text))
                all_quads.extend(quads)
            rows = quads_to_rows(all_quads)
            yield pd.DataFrame(
                [(o, r, t, ti, [{"k": k, "v": v} for (k, v) in a], None)
                 for (o, r, t, ti, a, _ix) in rows],
                columns=["origin", "rel", "target", "t_iri", "attrs",
                         "link_ix"])

    return docs_df.mapInPandas(_batches, LINK_SCHEMA)


def parse(vlit: str, spark=None, config: dict | None = None):
    """Parse Literate text → Spark model DataFrame (or quads when no
    SparkSession given). Returns (model, doc_iri) — the reference returns
    just the base IRI and mutates the passed model."""
    quads, doc_iri = parse_to_quads(vlit, config)
    if spark is None:
        return quads, doc_iri
    return from_quads(spark, quads), doc_iri


# ---------------------------------------------------------------------------
# Writer (reference serial/literate.py:28-132)
# ---------------------------------------------------------------------------

def _relativize(rel: str, base: str) -> str | None:
    if rel.startswith(base):
        suffix = rel[len(base):]
        if suffix and "/" not in suffix and "#" not in suffix:
            return suffix
    return None


def _abbreviate(rel, bases):
    for base in bases:
        abbr = _relativize(str(rel), str(base))
        if abbr:
            if str(base) == str(VERSA_BASEIRI):
                abbr = "@" + abbr
            return abbr
    return I(rel)


def _value_format(val, is_iri):
    if is_iri:
        return f"<{val}>"
    return f'"{val}"'


def write(df, out=sys.stdout, base=None, schema=None, shorteners=None,
          canonical=False):
    """Write a model DataFrame as Versa Literate. Driver-side (collects);
    canonical=True produces a deterministic sort — the reference's
    model-equality aid (serial/literate.py:101-117).  For large models
    use ``write_df``, the distributed form of the same formatter."""
    return write_rows(df.collect(), out=out, base=base, schema=schema,
                      shorteners=shorteners, canonical=canonical)


def doc_header(base=None, schema=None, shorteners=None) -> str:
    """The @docheader preamble ``write`` emits before the first resource
    block (empty config still yields the separating blank lines)."""
    parts = []
    if any((base, schema, shorteners or {})):
        parts.append("# @docheader\n\n* @iri:\n")
    if base:
        parts.append(f"    * @base: {base}")
    if schema:
        parts.append(f"    * @schema: {schema}")
    parts.append("\n\n")
    return "".join(parts)


def origin_block(o, links, all_schema, canonical=False) -> str:
    """One resource section (``# origin [type]`` + property list) as a
    string — the per-origin unit both the driver-side writer and the
    distributed ``write_df`` emit.  ``links`` are dict rows with keys
    origin/rel/target/t_iri/attrs."""
    parts = []
    types = sorted(r["target"] for r in links
                   if r["rel"] == str(VTYPE_REL))
    first_type = types[0] if types else None
    if first_type:
        parts.append(f"# {o} [{_abbreviate(first_type, all_schema)}]\n\n")
    else:
        parts.append(f"# {o}\n\n")
    rels = [(r["rel"], r["target"], r["t_iri"],
             sorted((e["k"], e["v"]) for e in (r["attrs"] or [])))
            for r in links]
    if canonical:
        rels = sorted(rels, key=lambda x: (x[0], x[1] or "", x[3]))
    for rel, t, t_iri, a in rels:
        if rel == str(VTYPE_REL) and t == first_type:
            continue
        rendered_r = _abbreviate(rel, all_schema)
        if isinstance(rendered_r, I):
            rendered_r = f"<{rendered_r}>"
        parts.append(f"* {rendered_r}: {_value_format(t, t_iri)}\n")
        for k, v in a:
            rendered_k = _abbreviate(k, all_schema)
            if isinstance(rendered_k, I):
                rendered_k = f"<{rendered_k}>"
            parts.append(f"    * {rendered_k}: {_value_format(v, False)}\n")
    parts.append("\n")
    return "".join(parts)


def write_rows(rows, out=sys.stdout, base=None, schema=None,
               shorteners=None, canonical=False):
    """Same writer over plain link rows
    (origin, rel, target, t_iri, attr-entries, link_ix)."""
    def _row(r):
        if isinstance(r, (tuple, list)):
            return {"origin": r[0], "rel": r[1], "target": r[2],
                    "t_iri": r[3],
                    "attrs": [{"k": e[0], "v": e[1]}
                              if isinstance(e, (tuple, list)) else e
                              for e in (r[4] or [])]}
        return r
    rows = [_row(r) for r in rows]
    all_schema = ([schema] if schema else []) + [str(VERSA_BASEIRI)]

    out.write(doc_header(base=base, schema=schema, shorteners=shorteners))
    by_origin: dict = {}
    for r in rows:
        by_origin.setdefault(r["origin"], []).append(r)

    origins = sorted(by_origin) if canonical else list(by_origin)
    for o in origins:
        out.write(origin_block(o, by_origin[o], all_schema, canonical))


def write_df(df, schema=None):
    """Distributed Literate writer: one (origin, block) row per resource,
    each block byte-identical to what ``write(canonical=True)`` emits for
    that origin (parity-tested).  The driver-side ``write`` collects the
    whole model — fine for the reference's small-doc semantics, wrong for
    a billion-resource graph; here each origin's links shuffle ONCE to
    their group (applyInPandas over groupBy(origin) — Spark hands every
    group complete to one Arrow batch, so no cross-batch stitching), the
    formatter runs vectorized per group batch, and the result stays a
    DataFrame to be written as partitioned text/parquet.  To materialize
    a single document: ``doc_header(...) + ''.join(blocks ordered by
    origin)``.

    Blocks are always canonical (sorted rels) — a distributed writer has
    no meaningful insertion order to preserve."""
    all_schema = ([schema] if schema else []) + [str(VERSA_BASEIRI)]

    def _fmt(pdf):
        import pandas as pd
        o = pdf["origin"].iloc[0]
        links = [{"origin": o, "rel": r.rel, "target": r.target,
                  "t_iri": bool(r.t_iri),
                  "attrs": [{"k": e["k"], "v": e["v"]}
                            for e in (r.attrs if r.attrs is not None
                                      else [])]}
                 for r in pdf.itertuples()]
        return pd.DataFrame(
            [(o, origin_block(o, links, all_schema, canonical=True))],
            columns=["origin", "block"])

    from versa_spark.shipping import ensure_shipped
    ensure_shipped(df.sparkSession)
    return (df.groupBy("origin")
            .applyInPandas(_fmt, "origin string, block string"))
