"""Traced-run wrappers around the layer boundaries of the query path.

The untraced run never installs these. ``install`` replaces each boundary
function with a wrapper that records a span (and, where the layer does
countable work, a counter) and calls the original; ``uninstall`` puts the
originals back. Spans inside the package itself are left to a later
change; these measure each layer from its call boundary.

Boundaries and their span names:

- ``functions.analyzer`` — the query analyzers ``query.wand`` hands the
  serving node, and ``parse_websearch_query``, which websearch queries
  call directly: ``analyzer``;
- ``query.local.ServingIndex`` search entry points: ``local.search`` (its
  self time is the kernel: search minus analysis, reads and decode);
  pruned posting reads ``_rows_for``: ``local.read`` (+ bytes read);
  decoded-LRU lookups ``_memo``: counted;
- ``index.codec.decode_postings`` on an encoded list: ``codec.decode``
  (+ postings decoded);
- ``ServingIndex.search_response``: ``respond`` (self time = composition);
- ``index.segments.SegmentIndex.idf_map`` / ``segments_with_idf``:
  ``segments.idf``.
"""

from __future__ import annotations

import functools

from honeywell_search_engine_spark.functions import analyzer as A
from honeywell_search_engine_spark.index import codec
from honeywell_search_engine_spark.index.segments import SegmentIndex
from honeywell_search_engine_spark.query import wand as W
from honeywell_search_engine_spark.query.local import ServingIndex


def _spanned(tr, name, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tr.span(name):
            return fn(*a, **kw)

    return wrapper


def _payload_bytes(rows) -> int:
    return sum(
        len(v) for r in rows for v in r.values() if isinstance(v, (bytes, bytearray))
    )


def install(tr):
    """Patch the boundaries to record into tracer `tr`; returns uninstall()."""
    saved = []

    def patch(owner, attr, new):
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    orig_analyzers = W._analyzers_for

    def analyzers_for(index):
        return tuple(_spanned(tr, "analyzer", f) for f in orig_analyzers(index))

    patch(W, "_analyzers_for", analyzers_for)

    # The serving node and the Spark path import it at call time, so the
    # module attribute is the boundary. The oracle calls it too, outside
    # any request: only calls inside a request are spans.
    orig_parse = A.parse_websearch_query

    @functools.wraps(orig_parse)
    def parse_websearch_query(*a, **kw):
        if not tr.in_request():
            return orig_parse(*a, **kw)
        with tr.span("analyzer"):
            return orig_parse(*a, **kw)

    patch(A, "parse_websearch_query", parse_websearch_query)

    for m in ("search", "search_websearch", "search_phrase", "search_near_unordered"):
        patch(ServingIndex, m, _spanned(tr, "local.search", ServingIndex.__dict__[m]))
    patch(
        ServingIndex, "search_response",
        _spanned(tr, "respond", ServingIndex.__dict__["search_response"]),
    )

    orig_rows_for = ServingIndex.__dict__["_rows_for"]

    @functools.wraps(orig_rows_for)
    def rows_for(self, terms):
        with tr.span("local.read"):
            missing = [t for t in dict.fromkeys(terms) if t not in self._term_lru]
            out = orig_rows_for(self, terms)
        if missing:
            tr.count("local.read_terms", len(missing))
            tr.count("local.read_bytes", sum(_payload_bytes(out[t]) for t in missing))
        return out

    patch(ServingIndex, "_rows_for", rows_for)

    orig_memo = ServingIndex.__dict__["_memo"]

    @functools.wraps(orig_memo)
    def memo(self, *a, **kw):
        tr.count("local.lookups")
        return orig_memo(self, *a, **kw)

    patch(ServingIndex, "_memo", memo)

    orig_decode = codec.decode_postings

    @functools.wraps(orig_decode)
    def decode_postings(enc, *a, **kw):
        if isinstance(enc, codec.MemoList):  # a slice of a cached decode
            return orig_decode(enc, *a, **kw)
        with tr.span("codec.decode"):
            pl = orig_decode(enc, *a, **kw)
        tr.count("codec.decodes")
        tr.count("codec.decode_postings", pl.n)
        return pl

    patch(codec, "decode_postings", decode_postings)

    for m in ("idf_map", "segments_with_idf"):
        patch(SegmentIndex, m, _spanned(tr, "segments.idf", SegmentIndex.__dict__[m]))

    def uninstall():
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)

    return uninstall
