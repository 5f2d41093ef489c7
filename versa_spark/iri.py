"""Minimal RFC 3986 IRI utilities.

The reference engine (uogbuji/versa) delegates these operations to the
external ``amara3.iri`` module (see e.g. /root/reference/tools/py/pipeline/
link_materialize_actions.py:277 ``iri.absolutize`` and /root/reference/
tools/py/util.py:247 ``iri.matches_uri_ref_syntax``).  That package is not a
dependency here; these are fresh implementations of the same public RFC 3986
behaviors, limited to what the engine needs.
"""

from __future__ import annotations

import re
from urllib.parse import quote, urljoin

_SCHEME_PAT = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

# Characters that may never appear raw in a URI reference.
_URI_REF_ILLEGAL = re.compile(r'[\x00-\x20<>"{}|\\^`\x7f]')


def is_absolute(ref: str) -> bool:
    """True if *ref* starts with a URI scheme (e.g. ``http:``)."""
    return bool(ref) and _SCHEME_PAT.match(ref) is not None


def matches_uri_ref_syntax(ref: str) -> bool:
    """Loose syntactic check: could *ref* be a URI reference?

    Mirrors the role of ``iri.matches_uri_ref_syntax`` at
    /root/reference/tools/py/util.py:247 (used by ``zoom_in`` to decide
    whether a target is traversable).
    """
    if not isinstance(ref, str) or ref == "":
        return False
    return _URI_REF_ILLEGAL.search(ref) is None


def absolutize(ref: str, base: str | None) -> str:
    """Resolve *ref* against *base* per RFC 3986.

    If *base* is falsy or *ref* is already absolute, returns *ref* unchanged
    (matching how the reference pipeline calls ``iri.absolutize`` with a
    possibly-None context base, /root/reference/tools/py/pipeline/
    link_materialize_actions.py:277,283,340).
    """
    if ref is None:
        return ref
    if not base or is_absolute(ref):
        return ref
    return urljoin(base, ref)


def percent_encode(text: str) -> str:
    """Percent-encode characters not allowed raw in a URI reference."""
    return quote(text, safe=":/#?&=@[]!$&'()*+,;-._~%")


# The same character class as _URI_REF_ILLEGAL, spelled for Java regex
# (Spark ``rlike``): column-level traversability checks must agree with
# the scalar ``matches_uri_ref_syntax`` above, so both derive from this
# one definition of "may never appear raw in a URI reference".
URI_REF_ILLEGAL_JAVA = '[\\x00-\\x20<>"{}|\\\\^`\\x7f]'
