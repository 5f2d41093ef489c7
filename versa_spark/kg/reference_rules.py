"""The KG extraction expressed as a Versa pipeline (reference semantics).

This is the triple-parity oracle for the fast path (kg.extract/linking/
canonicalize): the SAME transcript-to-graph mapping written as
fingerprint/transform rules in the action algebra, executed single-threaded
per conversation on a LocalModel — i.e. exactly how a user of the reference
engine would implement it (generic_pipeline, main.py:436-470; custom
pattern actions as in test_pipeline.py).  A test compares (subj, pred, obj)
sets from both paths and reports precision/recall (north rule: P/R ≥ 0.95;
expected here: 1.0 by construction).
"""

from __future__ import annotations

import re

from versa_spark import VLABEL_REL, VTYPE_REL
from versa_spark.ids import resource_id
from versa_spark.iriref import I
from versa_spark.kg.extract import (
    BASE, ENT, LEXICON, REL_HASTURN, REL_MENTIONS, REL_USEDTOOL,
    TYPE_CONCEPT, TYPE_CONV, TYPE_TURN, _MENTION_PAT,
)
from versa_spark.local import LocalModel
from versa_spark.pipeline import generic_pipeline, link, pipeline_action

REL_TEXT = BASE + "v/text"
REL_ROLE = BASE + "v/role"
REL_TURNIX = BASE + "v/turnIndex"
REL_CONV = BASE + "v/conv"
REL_TOOL_SRC = BASE + "v/toolUsed"

_PAT = re.compile(_MENTION_PAT)


def transcript_input_model(rows) -> LocalModel:
    """Transcript rows (conv_id, turn_idx, role, text, tool) → the input
    link model a Versa user would parse their source into.  Rows are added
    in stable turn order (the ordered-insertion semantics of the
    reference, memory.py:183-188 — the window-rank equivalent)."""
    m = LocalModel()
    for (conv_id, turn_idx, role, text, tool) in sorted(
            rows, key=lambda r: (r[0], r[1])):
        turn = I(f"{BASE}transcript/{conv_id}/{turn_idx}")
        conv = I(f"{BASE}transcript/{conv_id}")
        m.add(turn, VTYPE_REL, I(TYPE_TURN))
        m.add(turn, I(REL_CONV), conv)
        m.add(turn, I(REL_TEXT), text)
        m.add(turn, I(REL_ROLE), role)
        m.add(turn, I(REL_TURNIX), str(turn_idx))
        if tool is not None:
            m.add(turn, I(REL_TOOL_SRC), I(BASE + "tool/" + tool))
    return m


def _mention_entities(text: str) -> list[tuple[str, str]]:
    """Distinct (entity_iri, canonical) per lexicon mention, first-occurrence
    order — the oracle for extract.mention_surfaces_col +
    extract.lexicon_linked_mentions."""
    seen, out = set(), []
    for surface in _PAT.findall(text or ""):
        if surface in seen:
            continue
        seen.add(surface)
        canonical = LEXICON.get(surface)
        if canonical is not None:
            out.append((ENT + canonical, canonical))
        else:
            rid = resource_id(TYPE_CONCEPT, [(ENT + "name", surface)])
            out.append((ENT + "unlinked/" + rid, surface))
    return out


@pipeline_action
def mention_targets(ctx):
    """Action: current link's target text → list of entity IRIs."""
    return [I(e) for (e, _c) in _mention_entities(ctx.current_link[2])]


@pipeline_action
def mention_entity_contexts(ctx):
    """Action for link(source=…): one context per (entity, type|label)
    assertion for every mention in the text."""
    out = []
    for (e, c) in _mention_entities(ctx.current_link[2]):
        out.append(ctx.copy(current_link=(I(e), VTYPE_REL, I(TYPE_CONCEPT),
                                          {})))
        out.append(ctx.copy(current_link=(I(e), VLABEL_REL, c, {})))
    return out


def seq(*actions):
    """Run several actions for one rule (rules map rel → one callable)."""
    @pipeline_action
    def _seq(ctx):
        for a in actions:
            a(ctx)
    return _seq


@pipeline_action
def keep_turn_id(ctx):
    """Fingerprint action: output resource = the input turn itself (IDs are
    already stable IRIs; nothing to hash)."""
    turn = ctx.current_link[0]
    ctx.output_model.add(I(turn), VTYPE_REL, I(TYPE_TURN))
    for hook in ctx.extras.get("@new-entity-hook") or []:
        hook(I(turn))
    return [I(turn)]


def kg_pipeline() -> generic_pipeline:
    FINGERPRINT_RULES = {I(TYPE_TURN): keep_turn_id}
    TRANSFORM_RULES = {
        I(REL_TEXT): seq(
            link(rel=I(REL_MENTIONS), target=mention_targets),
            link(source=mention_entity_contexts)),
        I(REL_ROLE): link(rel=I(REL_ROLE)),
        I(REL_TURNIX): link(rel=I(REL_TURNIX)),
        I(REL_CONV): seq(
            link(origin=_target_of, rel=I(VTYPE_REL), target=I(TYPE_CONV)),
            link(origin=_target_of, rel=I(REL_HASTURN), target=_origin_of)),
        I(REL_TOOL_SRC): link(rel=I(REL_USEDTOOL)),
    }
    return generic_pipeline(FINGERPRINT_RULES, TRANSFORM_RULES, {})


@pipeline_action
def _target_of(ctx):
    return ctx.current_link[2]


@pipeline_action
def _origin_of(ctx):
    return ctx.current_link[0]


def reference_triples(rows) -> set[tuple[str, str, str]]:
    """Transcript rows → (subj, pred, obj) set via the Versa pipeline."""
    modout = kg_pipeline().run(input_model=transcript_input_model(rows))
    return {(str(o), str(r), str(t)) for (o, r, t, _a) in modout}
