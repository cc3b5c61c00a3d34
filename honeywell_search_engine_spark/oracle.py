"""In-memory reference BM25 engine (the correctness oracle).

A deliberately simple dict-based inverted index + exact exhaustive BM25
scorer. This is the "reference implementation" the north_rule's
rank-identity contract is checked against (SURVEY.md §5.2): the reference
repo delegates lexical ranking to Postgres ``ts_rank_cd``
(backend/app/services/search/fusion.py:36-45) while its design documents
name BM25 (PIPELINE.md:144,179,189-190); this oracle realizes that design
exactly, using the shared analyzer kernel, so engine == oracle is a
meaningful end-to-end check.

Scoring (Okapi BM25, k1=1.2, b=0.75, Lucene-style idf):

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d) = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * doclen/avgdl))

Determinism rules shared with the Spark engine so scores agree to 1e-9:
- float64 everywhere;
- per-doc score sums terms in lexicographic term order;
- total order on results: (-score, docid).
Conjunctive (AND) semantics: a doc matches only if it contains every query
term (reference F4, fusion.py:42 websearch_to_tsquery).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from honeywell_search_engine_spark import B, K1
from honeywell_search_engine_spark.functions.analyzer import analyze, analyze_query
from honeywell_search_engine_spark.index.stats import bm25_idf


@dataclass
class OracleIndex:
    n_docs: int = 0
    avgdl: float = 0.0
    doclen: dict[int, int] = field(default_factory=dict)
    postings: dict[str, dict[int, int]] = field(default_factory=dict)  # term -> {docid: tf}
    # term -> {docid: [positions in the filtered token stream]} — the
    # oracle for the positional index (reference tsvector keeps positions,
    # backend/migrations/003:32)
    positions: dict[str, dict[int, list[int]]] = field(default_factory=dict)

    # built with stemming? query analysis must match (same contract as
    # SegmentIndex/ServingIndex's stats.json flag)
    stemmed: bool = False

    @classmethod
    def build(cls, docs: list[tuple[int, str]], stem: bool = False) -> "OracleIndex":
        """docs: list of (docid, raw_text). Analyzer = shared kernel;
        `stem=True` Porter-stems the term stream (functions/stemmer.py)."""
        from honeywell_search_engine_spark.functions.analyzer import (
            analyze_stemmed,
        )

        idx = cls()
        idx.stemmed = stem
        total = 0
        an = analyze_stemmed if stem else analyze
        for docid, text in docs:
            toks = an(text)
            idx.doclen[docid] = len(toks)
            total += len(toks)
            for term, tf in Counter(toks).items():
                idx.postings.setdefault(term, {})[docid] = tf
            for pos, term in enumerate(toks):
                idx.positions.setdefault(term, {}).setdefault(docid, []).append(pos)
        idx.n_docs = len(docs)
        idx.avgdl = (total / idx.n_docs) if idx.n_docs else 0.0
        return idx

    def _aq(self, query: str) -> list[str]:
        from honeywell_search_engine_spark.functions.analyzer import (
            analyze_query_stemmed,
        )

        return (analyze_query_stemmed if self.stemmed else analyze_query)(query)

    def idf(self, term: str) -> float:
        return bm25_idf(self.n_docs, len(self.postings.get(term, {})))

    def search(
        self, query: str, k: int = 10, allowed=None, exclude=None
    ) -> list[tuple[int, float]]:
        """Exhaustive conjunctive BM25 top-k: [(docid, score)] sorted by
        (-score, docid). Unknown term => empty (AND semantics). `allowed`
        restricts candidates to a docid scope (global stats unchanged);
        `exclude` drops every doc containing ANY of those (analyzed)
        terms — websearch '-term' negation."""
        terms = self._aq(query)
        if not terms:
            return []
        plists = []
        for t in terms:  # analyze_query returns sorted terms: fixed sum order
            p = self.postings.get(t)
            if not p:
                return []
            plists.append((t, p))
        # intersect smallest-first for speed; scoring order stays lexicographic
        candidate = set(min((p for _, p in plists), key=len))
        for _, p in plists:
            candidate &= p.keys()
        if allowed is not None:
            candidate &= set(allowed)
        if exclude:
            for t in exclude:
                candidate -= self.postings.get(t, {}).keys()
        scored = []
        for docid in candidate:
            dl = self.doclen[docid]
            norm = K1 * (1.0 - B + B * dl / self.avgdl)
            s = 0.0
            for t, p in plists:
                tf = float(p[docid])
                # idf * u with u = tf*(k1+1)/(tf+norm): the association
                # order shared by ALL engine paths (stats.bm25_part_col,
                # codec.bm25_u) so scores are bit-identical, not just close
                s += self.idf(t) * (tf * (K1 + 1.0) / (tf + norm))
            scored.append((docid, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]

    def search_or(
        self, query: str, k: int = 10, allowed=None
    ) -> list[tuple[int, float]]:
        """Exhaustive DISJUNCTIVE BM25 top-k: every doc containing ANY query
        term, scored over the terms it contains (lexicographic sum order).
        [(docid, score)] by (-score, docid)."""
        terms = self._aq(query)
        if not terms:
            return []
        union: set[int] = set()
        plists = [(t, self.postings.get(t, {})) for t in terms]
        for _, p in plists:
            union |= p.keys()
        if allowed is not None:
            union &= set(allowed)
        scored = []
        for docid in union:
            dl = self.doclen[docid]
            norm = K1 * (1.0 - B + B * dl / self.avgdl)
            s = 0.0
            for t, p in plists:  # analyze_query is sorted: fixed order
                if docid in p:
                    tf = float(p[docid])
                    s += self.idf(t) * (tf * (K1 + 1.0) / (tf + norm))
            scored.append((docid, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]

    def _phrase_in_doc(self, terms: list[str], docid: int) -> bool:
        """True iff `terms` occur at consecutive filtered-stream positions
        in docid (caller guarantees every term's posting contains docid)."""
        pset = set(self.positions[terms[0]][docid])
        for j in range(1, len(terms)):
            pset &= {x - j for x in self.positions[terms[j]][docid]}
            if not pset:
                return False
        return True

    def _group_candidates(
        self,
        all_pos: list[str],
        neg: list[str],
        phrases: list[list[str]],
        neg_phrases: list[list[str]],
    ) -> set[int]:
        """Match set of one conjunctive websearch group: every positive
        term present, no negated term, every quoted phrase adjacent, no
        negated phrase adjacent."""
        plists = []
        for t in all_pos:
            p = self.postings.get(t)
            if not p:
                return set()
            plists.append(p)
        candidate = set(min(plists, key=len))
        for p in plists:
            candidate &= p.keys()
        for t in neg:
            candidate -= self.postings.get(t, {}).keys()
        for ph in phrases:
            candidate = {d for d in candidate if self._phrase_in_doc(ph, d)}
        for ph in neg_phrases:
            # a doc is excluded only if it contains EVERY phrase term and
            # they occur adjacently (Postgres !(a <-> b))
            candidate = {
                d
                for d in candidate
                if not (
                    all(d in self.positions.get(t, {}) for t in ph)
                    and self._phrase_in_doc(ph, d)
                )
            }
        return candidate

    def search_websearch(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        """FULL websearch_to_tsquery semantics: conjunctive groups joined
        by the 'or' keyword (AND binds tighter), quoted adjacency groups,
        '-term' negation, '-"quoted"' negated phrases, contradictions
        empty. A doc matches iff ANY group's conjunction holds; its BM25
        score sums over ALL distinct positive terms of the whole query
        that the doc contains (union-presence scoring, lexicographic
        order — the same convention as `search_or`; for a single group
        this is exactly `search`'s all-present scoring)."""
        from honeywell_search_engine_spark.functions.analyzer import (
            parse_websearch_query,
        )

        groups = parse_websearch_query(query)
        if self.stemmed:
            from honeywell_search_engine_spark.functions.analyzer import (
                stem_groups,
            )

            groups = stem_groups(groups)
        if not groups:
            return []
        union: set[int] = set()
        for all_pos, neg, phrases, neg_phrases in groups:
            union |= self._group_candidates(all_pos, neg, phrases, neg_phrases)
        if not union:
            return []
        score_terms = sorted({t for g in groups for t in g[0]})
        scored = []
        for docid in union:
            dl = self.doclen[docid]
            norm = K1 * (1.0 - B + B * dl / self.avgdl)
            s = 0.0
            for t in score_terms:
                p = self.postings.get(t)
                if p and docid in p:
                    tf = float(p[docid])
                    s += self.idf(t) * (tf * (K1 + 1.0) / (tf + norm))
            scored.append((docid, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]

    def search_phrase(
        self, phrase: str, k: int = 10, slop: int = 0
    ) -> list[tuple[int, float]]:
        """Exact phrase/proximity top-k. slop=0: the phrase's tokens occur
        at CONSECUTIVE positions of the filtered token stream (tsquery <->
        adjacency after stopword removal — Postgres phraseto_tsquery
        semantics over our analyzer). slop>0: ordered NEAR — positions
        q_0 < q_1 < ... < q_{m-1} with span q_{m-1} - q_0 <= (m-1) + slop
        (the minimum ordered window; greedy chaining is optimal so the
        check is exact). Matching docs are scored with the same BM25 as
        `search` over the phrase's distinct terms (sorted, fixed sum
        order). Returns [(docid, score)] by (-score, docid)."""
        from honeywell_search_engine_spark.functions.analyzer import (
            tokenize,
            tokenize_stemmed,
        )

        terms = (tokenize_stemmed if self.stemmed else tokenize)(phrase)
        if not terms:
            return []
        m = len(terms)
        plists = [self.positions.get(t) for t in terms]
        if any(p is None for p in plists):
            return []
        cand = set(plists[0].keys())
        for p in plists[1:]:
            cand &= p.keys()
        scored = []
        distinct = sorted(set(terms))
        import bisect

        def near_hit(docid: int) -> bool:
            for q0 in plists[0][docid]:
                q = q0
                ok = True
                for j in range(1, m):
                    ps = plists[j][docid]
                    i = bisect.bisect_right(ps, q)
                    if i >= len(ps):
                        ok = False
                        break
                    q = ps[i]
                if ok and q - q0 <= (m - 1) + slop:
                    return True
            return False

        for docid in cand:
            if slop == 0:
                pset = set(plists[0][docid])
                for j in range(1, m):
                    pset &= {x - j for x in plists[j][docid]}
                    if not pset:
                        break
                if not pset:
                    continue
            else:
                if not near_hit(docid):
                    continue
            dl = self.doclen[docid]
            norm = K1 * (1.0 - B + B * dl / self.avgdl)
            s = 0.0
            for t in distinct:
                tf = float(self.postings[t][docid])
                s += self.idf(t) * (tf * (K1 + 1.0) / (tf + norm))
            scored.append((docid, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]

    def search_near_unordered(
        self, query: str, k: int = 10, dist: int = 3
    ) -> list[tuple[int, float]]:
        """Ranked unordered two-term NEAR: docs where the two analyzed
        tokens occur within `dist` filtered positions in either order,
        scored with the same distinct-term BM25 as search_phrase."""
        from honeywell_search_engine_spark.functions.analyzer import (
            tokenize,
            tokenize_stemmed,
        )

        terms = (tokenize_stemmed if self.stemmed else tokenize)(query)
        if len(terms) != 2 or terms[0] == terms[1]:
            raise ValueError(
                f"search_near_unordered needs two distinct terms; got {terms!r}"
            )
        pa, pb = (self.positions.get(t) for t in terms)
        if pa is None or pb is None:
            return []
        scored = []
        for docid in pa.keys() & pb.keys():
            A, Bp = pa[docid], pb[docid]
            if not any(abs(a - b) <= dist for a in A for b in Bp):
                continue
            dl = self.doclen[docid]
            norm = K1 * (1.0 - B + B * dl / self.avgdl)
            s = 0.0
            for t in sorted(set(terms)):
                tf = float(self.postings[t][docid])
                s += self.idf(t) * (tf * (K1 + 1.0) / (tf + norm))
            scored.append((docid, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]
