"""LocalModel — the per-partition, in-memory link set.

At 100 TB, knowledge-graph construction is embarrassingly parallel per
document/conversation: every subgraph (one transcript's links, one record's
links) is independent, so rule application runs inside ``applyInPandas``
groups, each over a LocalModel holding just that subgraph.  Cross-document
work (canonicalization, entity dedup) happens afterwards as global DataFrame
ops on deterministic fingerprint IDs.

Semantics mirror the reference in-memory driver
(/root/reference/tools/py/driver/memory.py): ordered insertion
(memory.py:183-188), silent refusal of exact duplicates (memory.py:179-181),
wildcard match with truthiness tests (memory.py:85-116), attribute
containment filters.  The implementation is new: a list plus a
canonical-key set for O(1) dup refusal instead of the reference's
list-scan.
"""

from __future__ import annotations

from versa_spark import VLABEL_REL, VTYPE_REL
from versa_spark.iriref import I


def _canon_attrs(attrs: dict) -> tuple:
    """Hashable canonical form of an attribute dict (list values kept
    order-insensitively)."""
    out = []
    for k, v in attrs.items():
        if isinstance(v, (list, tuple, set)):
            out.append((str(k), tuple(sorted(str(x) for x in v))))
        else:
            out.append((str(k), str(v)))
    out.sort()
    return tuple(out)


class LocalModel:
    """Ordered set of link quads ``(origin, rel, target, attrs)``."""

    __slots__ = ("_links", "_keys")

    def __init__(self, links=None):
        self._links: list[tuple] = []
        self._keys: set = set()
        for quad in links or ():
            if len(quad) == 3:
                o, r, t = quad
                a = {}
            else:
                o, r, t, a = quad
            self.add(o, r, t, a)

    # -- mutation ----------------------------------------------------------

    def add(self, origin, rel, target, attrs=None, index=None):
        """Append (or insert at *index*) a link; silently refuse exact
        duplicates (memory.py:179-188). Returns the statement id of the
        added link, or None when refused — the reference's contract."""
        attrs = dict(attrs) if attrs else {}
        key = (str(origin), str(rel), str(target) if target is not None else None,
               isinstance(target, I), _canon_attrs(attrs))
        if key in self._keys:
            return None
        self._keys.add(key)
        if index is None:
            self._links.append((origin, rel, target, attrs))
            return len(self._links) - 1
        self._links.insert(index, (origin, rel, target, attrs))
        return index

    def add_many(self, quads) -> None:
        for quad in quads:
            self.add(*quad)

    def update(self, other: "LocalModel") -> None:
        """Model union with dedup (memory.py:221-229)."""
        for quad in other:
            self.add(*quad)

    def remove(self, index) -> None:
        indices = sorted(index if isinstance(index, (list, set, tuple)) else [index],
                         reverse=True)
        for ix in indices:
            o, r, t, a = self._links.pop(ix)
            self._keys.discard((str(o), str(r), str(t) if t is not None else None,
                                isinstance(t, I), _canon_attrs(a)))

    # -- enumeration -------------------------------------------------------

    def __len__(self):
        return len(self._links)

    def __iter__(self):
        return iter(self._links)

    def __getitem__(self, ix):
        return self._links[ix]

    def copy(self) -> "LocalModel":
        m = LocalModel()
        m._links = [(o, r, t, dict(a)) for (o, r, t, a) in self._links]
        m._keys = set(self._keys)
        return m

    # -- query -------------------------------------------------------------

    def match(self, origin=None, rel=None, target=None, attrs=None):
        """Pattern match; falsy component = wildcard (memory.py:85-116).
        Yields quads with copied attr dicts."""
        for (o, r, t, a) in self._links:
            if origin and o != origin:
                continue
            if rel and r != rel:
                continue
            if target and t != target:
                continue
            if attrs and any(a.get(k) != v for k, v in attrs.items()):
                continue
            yield (o, r, t, dict(a))

    def multimatch(self, origin=None, rel=None, target=None, attrs=None):
        """Match where each component may be a set (memory.py:119-150)."""
        def _setify(x):
            if x is None:
                return None
            return x if isinstance(x, (set, frozenset, list, tuple)) else {x}

        origin, rel, target = _setify(origin), _setify(rel), _setify(target)
        for (o, r, t, a) in self._links:
            if origin is not None and o not in origin:
                continue
            if rel is not None and r not in rel:
                continue
            if target is not None and t not in target:
                continue
            if attrs and any(a.get(k) != v for k, v in attrs.items()):
                continue
            yield (o, r, t, dict(a))


# -- local forms of the util operators (reference tools/py/util.py) ---------

def all_origins(model: LocalModel, of_types=None, only_types=None):
    """Distinct origins, optionally type-restricted; '*' = any type
    (util.py:56-75)."""
    of_types = of_types or only_types
    seen = set()
    out = []
    for (o, _r, _t, _a) in model:
        if o not in seen:
            seen.add(o)
            out.append(o)
    if not of_types:
        return out
    if isinstance(of_types, str) and of_types != "*":
        of_types = {of_types}
    keep = []
    for o in out:
        typs = set(resourcetypes(model, o))
        if of_types == "*":
            if typs:
                keep.append(o)
        elif typs & set(of_types):
            keep.append(o)
    return keep


def resourcetypes(model: LocalModel, rid):
    """Targets of (rid, VTYPE_REL, *) (util.py:91-96)."""
    return [t for (_o, _r, t, _a) in model.match(rid, VTYPE_REL)]


def labels(model: LocalModel, rid):
    return [t for (_o, _r, t, _a) in model.match(rid, VLABEL_REL)]


def simple_lookup(model: LocalModel, origin, rel):
    """First target for (origin, rel) (util.py:25-27)."""
    for (_o, _r, t, _a) in model.match(origin, rel):
        return t
    return None


def model_to_rows(model: LocalModel) -> list[tuple]:
    """LocalModel → rows for versa_spark.model.LINK_SCHEMA."""
    from versa_spark.model import quads_to_rows
    return quads_to_rows(list(model))


def rows_to_model(rows) -> LocalModel:
    """Link rows (origin, rel, target, t_iri, attrs-entries, link_ix) →
    LocalModel (attr entry arrays folded back to dicts; repeated keys →
    list values, as built by the reference at
    link_materialize_actions.py:94-100)."""
    srt = sorted(rows, key=lambda r: (r[5] if r[5] is not None else 1 << 60))
    m = LocalModel()
    for (o, r, t, t_iri, attrs, _ix) in srt:
        a = {}
        for e in attrs or []:
            k, v = (e["k"], e["v"]) if isinstance(e, dict) else (e[0], e[1])
            if k in a:
                a[k] = (a[k] if isinstance(a[k], list) else [a[k]]) + [v]
            else:
                a[k] = v
        m.add(I(o), I(r), I(t) if t_iri and t is not None else t, a)
    return m
