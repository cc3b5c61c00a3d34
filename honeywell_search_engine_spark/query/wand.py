"""BM25 top-k over encoded segments with block-max pruning.

Distributed plan:

    segments scan: bucket-dir pruning + term pushdown,   [executors]
      df attached by a broadcast join of term_stats
    -> groupBy(shard).applyInPandas(shard kernel)        [executors,
       one tiny group per shard: ≤ n_terms encoded rows] parallel]
    -> global TakeOrderedAndProject(k, (-score, docid))  [k rows/shard]

Because ``shard = pmod(docid, n_shards)`` every document's postings live in
exactly one shard, so conjunctive evaluation is shard-local and the global
top-k is the k-merge of per-shard top-k's — exact, no recall loss (tested
rank- and score-identical to the oracle, oracle.py).

Shard kernels (numpy), one per query mode — single term, AND, OR, phrase /
NEAR, websearch — each shared by this Spark path and the serving node
(query/local.py). A kernel takes its lists as codec.EncodedList (encoded
segment rows) or codec.MemoList (a cached full decode); the one place the
two differ is _probe, which looks candidate docids up in a list.

- AND (default, reference F4 websearch_to_tsquery semantics): the rarest
  list drives; every other list is probed at the surviving candidates
  only — on an encoded list only the blocks that can hold a candidate
  are decoded (block-max docid skipping). Exact scores for survivors,
  float64, lexicographic term order (bit-identical to the oracle).
- Single term: blocks are visited in descending idf*bmax_u (block-max
  score order); once the k-th heap score exceeds the next block's upper
  bound the remaining blocks are provably irrelevant and never decoded —
  classic block-max top-k, exact.
- OR (disjunctive, reference F5 triple-match semantics): exact vectorized
  union scoring with interval-sweep block pruning — see _shard_kernel_or.

The single-term, AND and OR kernels take `prune`: the Spark path always
prunes; the serving node prunes only lists long enough for the pruning
bookkeeping to pay (query/local.FULLSCAN_MAX_POSTINGS). Pruning is exact,
so results do not depend on it.

Deleted documents (tombstones, index/maintenance.py) are filtered inside
the kernels from the broadcast tombstone set until compaction folds them
into the segments.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from honeywell_search_engine_spark.functions.analyzer import analyze_query
from honeywell_search_engine_spark.index import codec
from honeywell_search_engine_spark.index.segments import SegmentIndex
from honeywell_search_engine_spark.index.stats import bm25_idf

RESULT_SCHEMA = "docid long, score double"


def _analyzers_for(index):
    """Query analyzers matching how the index was built: a Porter-stemmed
    index (build_segments(stemmed=True), flag persisted in stats.json)
    stems queries too — like Postgres, where websearch_to_tsquery('english',
    ...) applies the same stemmer the tsvector build did. Returns
    (analyze_query_fn, tokenize_fn, groups_transform_fn)."""
    if getattr(index, "stemmed", False):
        from honeywell_search_engine_spark.functions.analyzer import (
            analyze_query_stemmed,
            stem_groups,
            tokenize_stemmed,
        )

        return analyze_query_stemmed, tokenize_stemmed, stem_groups
    from honeywell_search_engine_spark.functions.analyzer import tokenize

    return analyze_query, tokenize, (lambda g: g)

# a docid scope above this size never rides a driver collect/broadcast —
# it joins the docmap and cogroups with the segment rows instead
SCOPE_INLINE_MAX = 100_000


def _enc_from_row(row) -> codec.EncodedList:
    p_off = row["p_off"] if "p_off" in row else None
    return codec.EncodedList(
        n=int(row["n"]),
        bmax_docid=np.asarray(row["bmax_docid"], dtype=np.int64),
        bmax_u=np.asarray(row["bmax_u"], dtype=np.float64),
        d_off=np.asarray(row["d_off"], dtype=np.int64),
        t_off=np.asarray(row["t_off"], dtype=np.int64),
        l_off=np.asarray(row["l_off"], dtype=np.int64),
        deltas=bytes(row["deltas"]),
        tfs=bytes(row["tfs"]),
        doclens=bytes(row["doclens"]),
        positions=bytes(row["positions"]) if "positions" in row and row["positions"] is not None else b"",
        p_off=np.asarray(p_off, dtype=np.int64) if p_off is not None else None,
        # per-row stream codec (segment schema `fmt`); rows from indexes
        # built before the column existed decode as varbyte
        fmt=codec.FMT_FROM_TAG[int(row["fmt"])] if "fmt" in row and row["fmt"] is not None else codec.FMT_VB,
    )


def _u_exact(tfs: np.ndarray, doclens: np.ndarray, avgdl: float) -> np.ndarray:
    return codec.bm25_u(tfs, doclens, avgdl)


_NO_DEAD = np.zeros(0, dtype=np.int64)


def _select_topk_with_ties(lids: np.ndarray, scores: np.ndarray, k: int):
    """Top-k by score (tie: ascending lid) INCLUDING every row tied with
    the k-th score. Returning boundary ties makes the global merge exact
    under ANY lid assignment: final ordering tie-breaks on the rehydrated
    global docid, and nothing tied at the cut was dropped shard-side —
    required because merged-in documents get appended lids, which are not
    docid-ordered (index/docmap.py)."""
    if lids.size == 0:
        return []
    if lids.size > k:
        kth = np.partition(scores, lids.size - k)[lids.size - k]
        keep = scores >= kth
        lids, scores = lids[keep], scores[keep]
    idx = np.lexsort((lids, -scores))
    return list(zip(lids[idx], scores[idx]))


# Every kernel takes its lists as (term, x) pairs where x is either a
# codec.EncodedList (the Spark path: encoded segment rows) or a
# codec.MemoList (the serving node's decoded LRU and the Spark batch
# path's shared terms: the encoded row plus one cached full decode). Both
# expose n / bmax_docid / bmax_u and go through codec.decode_postings /
# decode_blocks, so the only place the representation matters is _probe.


def _gather_flat(positions: np.ndarray, starts: np.ndarray, sel: np.ndarray) -> np.ndarray:
    """Flat positions of postings `sel`, where posting i's positions are
    positions[starts[i]:starts[i+1]] — a vectorized segment gather."""
    seg_s = starts[sel]
    seg_l = starts[sel + 1] - seg_s
    out_starts = np.zeros(sel.size, dtype=np.int64)
    if sel.size > 1:
        np.cumsum(seg_l[:-1], out=out_starts[1:])
    gidx = (
        np.arange(int(seg_l.sum()), dtype=np.int64)
        - np.repeat(out_starts, seg_l)
        + np.repeat(seg_s, seg_l)
    )
    return positions[gidx]


def _probe(x, cand: np.ndarray, with_positions: bool = False):
    """Look the sorted candidate docids `cand` up in list `x`. Returns
    (keep mask over cand, tfs, doclens, flat positions | None), the
    columns aligned with cand[keep].

    This is the one place a kernel probes a list, and the one choice made
    from the representation: an EncodedList decodes only the blocks that
    could hold a candidate (block-max docid skip: the first block whose
    last docid >= the candidate); a MemoList is one searchsorted over its
    cached full decode."""
    cand = cand.astype(np.uint64, copy=False)
    if isinstance(x, codec.MemoList):
        pl = codec.decode_postings(
            x, with_positions=with_positions, flat_positions=True
        )
    else:
        blocks = np.searchsorted(x.bmax_docid, cand.astype(np.int64), side="left")
        pl = codec.decode_blocks(
            x, np.unique(blocks[blocks < x.bmax_docid.size]),
            with_positions=with_positions, flat_positions=True,
        )
    pos = np.searchsorted(pl.docids, cand)
    ok = pos < pl.docids.size
    keep = np.zeros(cand.size, dtype=bool)
    keep[ok] = pl.docids[pos[ok]] == cand[ok]
    sel = pos[keep]
    flat = None
    if with_positions:
        if isinstance(x, codec.MemoList):
            starts = x._pos_offsets()
        else:
            starts = np.zeros(pl.tfs.size + 1, dtype=np.int64)
            np.cumsum(pl.tfs.astype(np.int64), out=starts[1:])
        flat = _gather_flat(pl.positions, starts, sel)
    return keep, pl.tfs[sel], pl.doclens[sel], flat


def _negated_mask(neg_rows: list, cand: np.ndarray) -> np.ndarray:
    """True where cand appears in ANY negated term's list — websearch
    '-term' exclusion, probed at the candidates only (a negated term's
    list is never fully decoded)."""
    hit = np.zeros(cand.size, dtype=bool)
    for _t, x in neg_rows:
        if cand.size == 0:
            break
        hit |= _probe(x, cand)[0]
    return hit


def _alive(lids: np.ndarray, dead: np.ndarray, scope: np.ndarray | None,
           neg_rows: list = ()) -> np.ndarray:
    """Mask over `lids`: not tombstoned (`dead`: this shard's sorted
    tombstoned lids, from a Spark broadcast — never a per-task Python
    set), inside `scope` when given (the sorted allowed lids — the
    reference's per-caller allowed_ids restriction, F2/F3), and in no
    negated term's list."""
    keep = np.ones(lids.size, dtype=bool)
    if dead.size or scope is not None:
        li = lids.astype(np.int64, copy=False)
        if dead.size:
            keep &= ~np.isin(li, dead)
        if scope is not None:
            keep &= np.isin(li, scope)
    if neg_rows and keep.any():
        keep[keep] = ~_negated_mask(neg_rows, lids[keep])
    return keep


def _take(cand: np.ndarray, cols: dict, keep: np.ndarray):
    """cand[keep], with every column of `cols` ({term: (tfs, doclens,
    flat positions | None)} aligned with cand) filtered alike."""
    if keep.all():
        return cand, cols
    out = {}
    for t, (tfs, dls, flat) in cols.items():
        if flat is not None:
            flat = flat[np.repeat(keep, tfs.astype(np.int64))]
        out[t] = (tfs[keep], dls[keep], flat)
    return cand[keep], out


def _drive(row, dead: np.ndarray, scope: np.ndarray | None = None,
           neg_rows: list = (), with_positions: bool = False):
    """Candidates of a conjunction: the driving (term, list) decoded in
    full and filtered by tombstones, scope and negation. Returns
    (cand, cols) for _intersect."""
    t, x = row
    pl = codec.decode_postings(x, with_positions=with_positions, flat_positions=True)
    cols = {t: (pl.tfs, pl.doclens, pl.positions if with_positions else None)}
    return _take(pl.docids, cols, _alive(pl.docids, dead, scope, neg_rows))


def _intersect(rows: list, cand: np.ndarray, cols: dict, need_pos=()):
    """Keep the candidates present in every (term, list) of `rows`, each
    probed at the surviving candidates only; `cols` is filtered along and
    gains each probed term's columns (positions for terms in need_pos)."""
    for t, x in rows:
        if cand.size == 0:
            break
        wp = t in need_pos
        keep, tfs, dls, flat = _probe(x, cand, with_positions=wp)
        cand, cols = _take(cand, cols, keep)
        cols = {**cols, t: (tfs, dls, flat)}
    return cand, cols


def _score(cols: dict, idf: dict[str, float], avgdl: float) -> np.ndarray:
    """Exact BM25 per candidate: the per-term contributions summed in
    lexicographic term order (float64 bit-parity with the oracle)."""
    score = np.zeros(next(iter(cols.values()))[0].size, dtype=np.float64)
    for t in sorted(cols):
        tfs, dls, _flat = cols[t]
        score += idf[t] * _u_exact(tfs, dls, avgdl)
    return score


def _topk(cand: np.ndarray, cols: dict, idf: dict[str, float], avgdl: float, k: int):
    if cand.size == 0:
        return []
    return _select_topk_with_ties(cand.astype(np.int64), _score(cols, idf, avgdl), k)


def _topk_single(x, idf: float, avgdl: float, k: int,
                 dead: np.ndarray = _NO_DEAD, scope: np.ndarray | None = None,
                 neg_rows: list = (), prune: bool = True):
    """Exact single-term top-k. `neg_rows` are (term, list) exclusions
    (websearch '-term'), filtered per chunk BEFORE the top-k buffer so
    the pruning threshold never counts an excluded doc.

    With `prune`, blocks are visited in descending idf*bmax_u (block-max
    score order); once the k-th buffered score exceeds the next block's
    upper bound the remaining blocks are provably irrelevant and never
    decoded — classic block-max top-k, exact. Without it the whole list
    is scored in one vectorized pass (cheaper for short lists)."""
    if not prune:
        return _topk(*_drive(("", x), dead, scope, neg_rows), {"": idf}, avgdl, k)
    order = np.argsort(-x.bmax_u, kind="stable")
    # Blocks are visited in descending-bound order in CHUNKS: the stop
    # test uses the first (= highest-bound) block of the next chunk, so
    # pruning stays exact — at worst chunk-1 extra blocks decode. The
    # chunk turns per-block Python/decode overhead into one batched
    # decode + one argpartition per chunk (a per-score Python heap and a
    # per-block loop both measured as the serving hot spot).
    chunk = 16
    topbuf = np.empty(0, dtype=np.float64)
    cand_d: list[np.ndarray] = []
    cand_s: list[np.ndarray] = []
    for i in range(0, order.size, chunk):
        batch = order[i : i + chunk]
        bound = idf * x.bmax_u[batch[0]]  # max bound among all remaining
        if topbuf.size >= k and bound < topbuf.min():
            break  # every remaining block has a strictly smaller bound
        pl = codec.decode_blocks(x, np.sort(batch))
        keep = _alive(pl.docids, dead, scope, neg_rows)
        scores = idf * _u_exact(pl.tfs[keep], pl.doclens[keep], avgdl)
        cand_d.append(pl.docids[keep].astype(np.int64))
        cand_s.append(scores)
        if scores.size:
            merged = np.concatenate([topbuf, scores])
            if merged.size > k:
                merged = merged[np.argpartition(merged, merged.size - k)[merged.size - k:]]
            topbuf = merged
    if not cand_d:
        return []
    return _select_topk_with_ties(
        np.concatenate(cand_d), np.concatenate(cand_s), k
    )


def _shard_kernel_and(term_rows: list, idf: dict[str, float], avgdl: float,
                      k: int, dead: np.ndarray = _NO_DEAD, prune: bool = True,
                      scope: np.ndarray | None = None, neg_rows: list = ()):
    """Conjunctive evaluation of one shard. term_rows: (term, list), all
    query terms present (caller enforces).

    The rarest list drives; every other list is probed at the surviving
    candidates only (_probe). Tombstones, scope and websearch '-term'
    exclusion filter the driver BEFORE pruning, so theta derives only
    from docs that can actually be returned.

    Score-bound pruning (`prune`, exact): with more candidates than k, each
    candidate's upper bound U = (driver's EXACT contribution) + sum over
    the other terms of idf * bmax_u of the block that would hold it —
    block METADATA only, nothing decoded. theta is derived ONLY from
    documents verified against the full conjunction: the top-k candidates
    by driver contribution are intersected first (≤k candidates — cheap),
    and if at least k of them survive, the k-th largest of their TRUE
    scores lower-bounds the shard's k-th true conjunctive score, so any
    candidate with U < theta can never reach the top-k (boundary ties
    included: a tie at the k-th score would need S = S_kth >= theta >
    U >= S, and every doc with S >= theta has U >= S >= theta so it
    survives). If fewer than k of the probed candidates complete the
    conjunction there is no sound theta and score pruning is skipped —
    only the always-valid "past the last block" drop applies. (An earlier
    version took theta from UNVERIFIED driver contributions, which
    over-prunes when high-driver-score docs fail the intersection.)"""
    rows = sorted(term_rows, key=lambda tr: tr[1].n)
    cand, cols = _drive(rows[0], dead, scope, neg_rows)
    if prune and cand.size > k:
        t0 = rows[0][0]
        tfs0, dls0, _ = cols[t0]
        exact0 = idf[t0] * _u_exact(tfs0, dls0, avgdl)  # exact driver part
        ub = exact0.copy()
        keep = np.ones(cand.size, dtype=bool)
        ci = cand.astype(np.int64)
        for t, x in rows[1:]:
            b = np.searchsorted(x.bmax_docid, ci, side="left")
            valid = b < x.bmax_docid.size
            keep &= valid  # beyond t's last block -> AND can never hold
            ub[valid] += idf[t] * x.bmax_u[b[valid]]
        # verify the k best-by-driver candidates against the full
        # conjunction and take theta from their TRUE scores
        best = np.zeros(cand.size, dtype=bool)
        best[np.argpartition(exact0, exact0.size - k)[exact0.size - k:]] = True
        v_cand, v_cols = _intersect(rows[1:], *_take(cand, cols, best))
        if v_cand.size >= k:
            v_score = _score(v_cols, idf, avgdl)
            keep &= ub >= np.partition(v_score, v_score.size - k)[v_score.size - k]
        cand, cols = _take(cand, cols, keep)
    return _topk(*_intersect(rows[1:], cand, cols), idf, avgdl, k)


def _or_block_prune(term_rows: list, idf: dict[str, float], avgdl: float,
                    k: int, dead: np.ndarray, scope: np.ndarray | None = None):
    """Exact block-max pruning for OR mode. Returns, per term, the block
    indices that can still contain a top-k doc (or None to decode fully).

    theta: the k-th best EXACT single-term score of the strongest lists is
    a lower bound of the k-th best OR score (OR score >= any single-term
    contribution). Interval sweep: elementary docid intervals are delimited
    by the union of every term's block-end docids, so within one interval
    each term's covering block — and therefore the summed upper bound
    sum_t idf_t * bmax_u_t — is constant. Intervals with bound < theta
    (strict) hold only docs strictly below the k-th true score (ties at the
    k-th are kept: a tie would need S = S_kth >= theta > bound >= S).
    Only blocks intersecting surviving intervals are decoded."""
    # theta from the exact top-k of the single strongest list (highest
    # idf * max block bound) — cheap: block-max pruned single-term pass
    best_t = max(
        range(len(term_rows)),
        key=lambda i: idf[term_rows[i][0]] * float(term_rows[i][1].bmax_u.max()),
    )
    t0, e0 = term_rows[best_t]
    seed = _topk_single(e0, idf[t0], avgdl, k, dead, scope)
    if len(seed) < k:
        return None, None  # not enough evidence to prune safely
    theta = min(s for _, s in seed)

    edges = np.unique(
        np.concatenate([enc.bmax_docid for _, enc in term_rows])
    )  # interval i = (edges[i-1], edges[i]]
    tot = np.zeros(edges.size, dtype=np.float64)
    covering = []
    for t, enc in term_rows:
        b = np.searchsorted(enc.bmax_docid, edges, side="left")
        valid = b < enc.bmax_docid.size
        tot[valid] += idf[t] * enc.bmax_u[b[valid]]
        covering.append((b, valid))
    keep = tot >= theta
    if keep.all():
        return None, None  # nothing prunable
    blocks_per_term = []
    for (b, valid), (t, enc) in zip(covering, term_rows):
        sel = np.unique(b[keep & valid])
        blocks_per_term.append(sel)
    return blocks_per_term, (edges, keep)


def _shard_kernel_or(term_rows: list, idf: dict[str, float], avgdl: float,
                     k: int, dead: np.ndarray = _NO_DEAD, prune: bool = True,
                     scope: np.ndarray | None = None):
    """Disjunctive (OR) union scoring of one shard — exact, vectorized.

    Scores every doc that contains ANY query term: union of docids via
    np.unique, per-term contributions added in lexicographic term order
    (float64 determinism). Used for the reference's triple-match OR
    semantics (F5, fusion.py:73-88). With `prune`, an interval-sweep
    block-max pass (_or_block_prune) drops whole docid regions whose
    summed upper bound cannot reach the k-th best single-term score —
    exact (returned scores unchanged, boundary ties kept), and the skipped
    blocks are never decoded."""
    term_rows = sorted(term_rows, key=lambda tr: tr[0])
    blocks_per_term = region = None
    if prune and len(term_rows) > 1:
        blocks_per_term, region = _or_block_prune(
            term_rows, idf, avgdl, k, dead, scope
        )
    if blocks_per_term is None:
        decoded = [(t, codec.decode_postings(enc)) for t, enc in term_rows]
    else:
        decoded = [
            (t, codec.decode_blocks(enc, blocks))
            for (t, enc), blocks in zip(term_rows, blocks_per_term)
        ]
    union = np.unique(np.concatenate([pl.docids for _, pl in decoded]))
    if region is not None:
        # decoded blocks overhang pruned intervals: drop docs whose
        # elementary interval was eliminated (their true score < theta)
        edges, keep = region
        iv = np.searchsorted(edges, union.astype(np.int64), side="left")
        inb = iv < edges.size
        mask = np.zeros(union.size, dtype=bool)
        mask[inb] = keep[iv[inb]]
        union = union[mask]
    union = union[_alive(union, dead, scope)]
    score = np.zeros(union.size, dtype=np.float64)
    for t, pl in decoded:  # lexicographic order
        pos = np.searchsorted(union, pl.docids)
        ok = pos < union.size
        ok[ok] = union[pos[ok]] == pl.docids[ok]  # pruned/tombstoned ids don't match
        contrib = idf[t] * _u_exact(pl.tfs, pl.doclens, avgdl)
        score[pos[ok]] += contrib[ok]
    return _select_topk_with_ties(union.astype(np.int64), score, k)


def _phrase_hits(cols: dict, terms: list[str], n_cand: int, slop: int = 0,
                 unordered: bool = False) -> np.ndarray:
    """Mask over the n_cand candidates of `cols` (positions present for
    every term): True where `terms` — phrase order, repeats allowed —
    occur adjacently (slop=0), as an ordered chain spanning at most
    (m-1)+slop positions (slop>0), or, with `unordered` (exactly two
    terms), within `slop` positions of each other in either order.

    Vectorized ACROSS candidates (no per-doc Python loop): every
    (candidate, position) pair is one composite key (c << 32) | pos,
    ascending by construction, so one searchsorted per phrase term
    verifies every candidate at once. slop=0: a start survives term j
    iff key+j exists in term j's keys. slop>0: greedy next-position
    chaining (side='right' gives the smallest position > current WITHIN
    the same candidate, checked via the key's candidate bits), so
    `min span <= (m-1)+slop` stays an exact test. unordered: one
    searchsorted of A's keys into B's gives each A-occurrence its
    successor AND predecessor B-position within the same candidate."""
    m = len(terms)

    def _keys(j: int) -> np.ndarray:
        tfs_j, _dls_j, flat_j = cols[terms[j]]
        c = np.repeat(np.arange(n_cand, dtype=np.int64), tfs_j.astype(np.int64))
        return (c << 32) | flat_j.astype(np.int64)  # ascending by construction

    if unordered:
        if m != 2:
            raise ValueError("unordered NEAR is the two-term operator")
        k0, k1 = _keys(0), _keys(1)
        c0 = k0 >> 32
        p0 = k0 & 0xFFFFFFFF
        idx = np.searchsorted(k1, k0)
        hit = np.zeros(k0.size, dtype=bool)
        oks = idx < k1.size
        succ = np.zeros_like(k0)
        succ[oks] = k1[idx[oks]]
        same_s = oks & ((succ >> 32) == c0)
        hit |= same_s & (((succ & 0xFFFFFFFF) - p0) <= slop)
        okp = idx > 0
        pred = np.zeros_like(k0)
        pred[okp] = k1[idx[okp] - 1]
        same_p = okp & ((pred >> 32) == c0)
        hit |= same_p & ((p0 - (pred & 0xFFFFFFFF)) <= slop)
        hit_c = np.unique(c0[hit])
    elif slop == 0:
        cur = _keys(0)
        for j in range(1, m):
            if cur.size == 0:
                break
            kj = _keys(j)
            tgt = cur + j  # pos+j can't overflow into the candidate bits
            idx = np.searchsorted(kj, tgt)
            ok = idx < kj.size
            ok[ok] = kj[idx[ok]] == tgt[ok]
            cur = cur[ok]
        hit_c = np.unique(cur >> 32)
    else:
        cur = _keys(0)
        c0 = cur >> 32
        p0 = cur & 0xFFFFFFFF
        q = cur.copy()
        live = np.ones(cur.size, dtype=bool)
        for j in range(1, m):
            kj = _keys(j)
            idx = np.searchsorted(kj, q, side="right")
            in_rng = live & (idx < kj.size)
            nxt = np.zeros_like(q)
            nxt[in_rng] = kj[idx[in_rng]]
            live = in_rng & ((nxt >> 32) == c0)
            q = np.where(live, nxt, q)
        live &= ((q & 0xFFFFFFFF) - p0) <= (m - 1) + slop
        hit_c = np.unique(c0[live])
    out = np.zeros(n_cand, dtype=bool)
    out[hit_c] = True
    return out


def _shard_kernel_phrase(term_rows: list, idf: dict[str, float], avgdl: float,
                         k: int, dead: np.ndarray = _NO_DEAD, slop: int = 0,
                         unordered: bool = False):
    """Exact phrase / NEAR evaluation of one shard. term_rows: [(term,
    list)] in PHRASE order (repeats allowed). The rarest distinct term
    drives, the others are probed at its candidates with positions
    (_probe), and _phrase_hits verifies the positional constraint.
    Matching docs score standard BM25 over the phrase's distinct terms
    (repeated phrase terms contribute once, like the oracle;
    lexicographic sum order — oracle bit-parity)."""
    terms = [t for t, _ in term_rows]
    rows = sorted(dict(term_rows).items(), key=lambda tr: tr[1].n)
    cand, cols = _drive(rows[0], dead, with_positions=True)
    cand, cols = _intersect(rows[1:], cand, cols, need_pos=terms)
    if cand.size:
        cand, cols = _take(
            cand, cols, _phrase_hits(cols, terms, cand.size, slop, unordered)
        )
    return _topk(cand, cols, idf, avgdl, k)


def _phrase_mask(ph_rows: list, cand: np.ndarray) -> np.ndarray:
    """Boolean mask over `cand` (sorted docids): True where the phrase —
    ph_rows as (term, list) in PHRASE order, repeats allowed — occurs at
    consecutive filtered-stream positions. Used for negated quoted
    phrases ('-"a b"', Postgres !(a <-> b)), where the phrase's terms are
    NOT required of the candidates, so presence and adjacency are both
    probed at the candidates only."""
    out = np.zeros(cand.size, dtype=bool)
    distinct = dict(ph_rows)
    sub, cols = _intersect(list(distinct.items()), cand, {}, need_pos=distinct)
    if sub.size:
        hit = _phrase_hits(cols, [t for t, _ in ph_rows], sub.size)
        out[np.searchsorted(cand, sub[hit])] = True
    return out


def _websearch_match(
    pos_rows: list,
    phrase_groups: list,
    neg_rows: list,
    dead: np.ndarray = _NO_DEAD,
    neg_phrase_rows: list = (),
):
    """Match portion of one conjunctive websearch group on one shard:
    pos_rows are the DISTINCT required (term, list) pairs (loose terms +
    every quoted-phrase member), phrase_groups are token-lists that must
    each occur adjacently, neg_rows exclude docs containing the term,
    neg_phrase_rows exclude docs where that phrase occurs adjacently
    ('-"a b"'). Returns (cand, cols) — surviving docids plus per-required-
    term (tfs, doclens, flat positions | None) columns for scoring. Exact;
    positions are read only for phrase members and only at candidates."""
    need_pos = {t for ph in phrase_groups for t in ph}
    rows = sorted(pos_rows, key=lambda tr: tr[1].n)
    cand, cols = _drive(
        rows[0], dead, neg_rows=neg_rows, with_positions=rows[0][0] in need_pos
    )
    cand, cols = _intersect(rows[1:], cand, cols, need_pos)
    for ph in phrase_groups:
        if cand.size == 0:
            break
        cand, cols = _take(cand, cols, _phrase_hits(cols, ph, cand.size))
    for ph_rows in neg_phrase_rows:
        if cand.size == 0:
            break
        cand, cols = _take(cand, cols, ~_phrase_mask(ph_rows, cand))
    return cand, cols


def _shard_kernel_websearch(
    pos_rows: list,
    phrase_groups: list,
    neg_rows: list,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    dead: np.ndarray = _NO_DEAD,
    neg_phrase_rows: list = (),
):
    """One conjunctive websearch group on one shard, scored: match via
    _websearch_match, then BM25 over the group's required terms
    (lexicographic sum order — oracle bit-parity). No score-bound
    pruning: with unverified phrase groups pending there is no sound
    theta (same reasoning as the AND-prune fix)."""
    cand, cols = _websearch_match(
        pos_rows, phrase_groups, neg_rows, dead, neg_phrase_rows
    )
    return _topk(cand, cols, idf, avgdl, k)


def _shard_kernel_websearch_or(
    groups: list,
    by_term: dict,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    dead: np.ndarray = _NO_DEAD,
):
    """Disjunction of conjunctive websearch groups on one shard (the
    Postgres websearch 'or' keyword — AND binds tighter, so the query is
    an OR of groups). `groups` are (all_pos, neg, phrases, neg_phrases)
    from analyzer.parse_websearch_query; `by_term` maps this shard's terms
    to their lists. A doc matches iff ANY group holds; its score sums
    BM25 over ALL distinct positive terms of the whole query present in
    the doc (union-presence scoring, lexicographic order — the
    `search_or` convention; oracle bit-parity). Group matching reuses
    _websearch_match; the scoring pass probes each positive term at the
    matched union only."""
    union: np.ndarray | None = None
    for all_pos, neg, phrases, neg_phrases in groups:
        if any(t not in by_term for t in all_pos):
            continue  # a required term absent in this shard: group empty here
        pos_rows = [(t, by_term[t]) for t in all_pos]
        neg_rows = [(t, by_term[t]) for t in neg if t in by_term]
        npr = [
            [(t, by_term[t]) for t in ph]
            for ph in neg_phrases
            if all(t in by_term for t in ph)
            # a negated phrase with a term absent from this shard can
            # never occur adjacently -> excludes nothing
        ]
        cand, _cols = _websearch_match(pos_rows, phrases, neg_rows, dead, npr)
        if cand.size:
            union = cand if union is None else np.union1d(union, cand)
    if union is None or union.size == 0:
        return []
    score = np.zeros(union.size, dtype=np.float64)
    for t in sorted({t for g in groups for t in g[0]}):
        x = by_term.get(t)
        if x is None:
            continue
        keep, tfs, dls, _ = _probe(x, union)
        if keep.any():
            score[keep] += idf[t] * _u_exact(tfs, dls, avgdl)
    return _select_topk_with_ties(union.astype(np.int64), score, k)


def _shard_lists(pdf: pd.DataFrame, n_docs: int):
    """One shard group's segment rows -> ({term: EncodedList}, {term: idf}).
    idf is computed here from the row's df with index.stats.bm25_idf — the
    function the oracle and the serving node score with — never taken from
    the JVM, whose log1p can differ by one ulp."""
    by_term = {r["term"]: _enc_from_row(r) for _, r in pdf.iterrows()}
    idf = {t: bm25_idf(n_docs, int(df)) for t, df in zip(pdf["term"], pdf["df"])}
    return by_term, idf


def _dead_of(dead_bc, shard: int) -> np.ndarray:
    return dead_bc.value.get(shard, _NO_DEAD) if dead_bc is not None else _NO_DEAD


def _shard_frame(shard: int, res: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "shard": [shard] * len(res),
            "lid": [int(d) for d, _ in res],
            "score": [float(s) for _, s in res],
        }
    )


def _ranked(index: SegmentIndex, per_shard: DataFrame, k: int) -> DataFrame:
    """Per-shard (shard, lid, score) top-k's -> the global top-k (docid,
    score) by (-score, docid)."""
    return (
        index.rehydrate(per_shard)
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
        .select("docid", "score")
    )


def _ranked_batch(index: SegmentIndex, per_shard: DataFrame, k: int) -> DataFrame:
    """Per-shard (qid, shard, lid, score) rows -> (qid, rnk, docid, score),
    rank per query by (-score, docid)."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        index.rehydrate(per_shard)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "docid", "score")
        .orderBy("qid", "rnk")
    )


def _shared_memo(by_term: dict, use_count: dict, need_pos=()) -> dict:
    """Batch paths: a term several queries of the batch use (the Zipf head
    of a query log) decodes ONCE per task as a MemoList — every query after
    the first runs decode-free; single-query terms stay encoded (probed
    selectively). Positions decode only for terms in need_pos."""
    return {
        t: codec.MemoList(
            x, codec.decode_postings(x, with_positions=t in need_pos, flat_positions=True)
        )
        if use_count.get(t, 0) > 1
        else x
        for t, x in by_term.items()
    }


def _phrase_topk(index: SegmentIndex, terms: list[str], k: int, slop: int,
                 unordered: bool = False) -> DataFrame:
    if not terms:
        return index.spark.createDataFrame([], RESULT_SCHEMA)
    avgdl = index.stats.avgdl
    n_docs = index.stats.n_docs
    dead_bc = index.dead_broadcast()

    def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        by_term, idf = _shard_lists(pdf, n_docs)
        if any(t not in by_term for t in terms):
            return _shard_frame(shard, [])
        res = _shard_kernel_phrase(
            [(t, by_term[t]) for t in terms], idf, avgdl, k,
            _dead_of(dead_bc, shard), slop, unordered,
        )
        return _shard_frame(shard, res)

    segs = index.segments_with_idf(sorted(set(terms)))
    per_shard = segs.groupBy("shard").applyInPandas(
        run_shard, schema="shard int, lid long, score double"
    )
    return _ranked(index, per_shard, k)


def bm25_topk_phrase(
    index: SegmentIndex, phrase: str, k: int = 10, slop: int = 0
) -> DataFrame:
    """Exact phrase (slop=0) / ordered-NEAR (slop>0) top-k over the
    positional segment index (reference tsvector positions,
    backend/migrations/003:32). Returns DataFrame(docid, score) by
    (-score, docid) — rank/score-identical to OracleIndex.search_phrase
    (tested)."""
    _aq, _tok, _sg = _analyzers_for(index)
    return _phrase_topk(index, _tok(phrase), k, slop)


def bm25_topk_near_unordered(
    index: SegmentIndex, query: str, k: int = 10, dist: int = 3
) -> DataFrame:
    """Ranked UNORDERED two-term proximity over the positional segment
    index (classic `A NEAR/k B`, Lucene/FTS default semantics; the ranked
    sibling of operators/search.match_near_unordered): top-k docs where
    the two analyzed tokens occur within `dist` filtered positions of each
    other IN EITHER ORDER, scored BM25 over both terms. Exactly two
    distinct analyzed tokens required — multi-term unordered coverage is a
    window-cover problem with different semantics (bm25_topk_phrase(slop)
    is the ordered m-term chain). Rank/score-identical to
    OracleIndex.search_near_unordered and ServingIndex.search_near_unordered
    (tested)."""
    _aq, _tok, _sg = _analyzers_for(index)
    terms = _tok(query)
    if len(terms) != 2 or terms[0] == terms[1]:
        raise ValueError(
            "bm25_topk_near_unordered is the two-distinct-term NEAR "
            f"operator; got {terms!r} (use bm25_topk_phrase(slop) for the "
            "ordered chain)"
        )
    return _phrase_topk(index, terms, k, dist, unordered=True)


def bm25_topk_wand(
    index: SegmentIndex,
    query: str,
    k: int = 10,
    mode: str = "and",
    allowed_docids=None,
    exclude_terms: list[str] | None = None,
    pre_analyzed: list[str] | None = None,
) -> DataFrame:
    """Top-k BM25 over the segment index. mode='and' (conjunctive, default)
    or 'or' (disjunctive). Returns DataFrame(docid, score) ordered by
    (-score, docid).

    `pre_analyzed` supplies already-analyzed index terms (e.g. the stemmed
    positive group from the websearch parser) and skips query analysis —
    Porter is not idempotent ('university'→'univers'→'univ'), so a caller
    holding stemmed terms must NOT round-trip them through the analyzer.

    `allowed_docids` restricts the result to a caller-supplied global-docid
    scope (the reference limits every search to the caller's own documents,
    search.py:99-116 / F2-F3); corpus stats stay global — the scope filters
    candidates, it doesn't re-weigh the collection (documented semantics,
    matched by OracleIndex.search(allowed=...)). Small scopes (≤
    SCOPE_INLINE_MAX ids) ride a memoized broadcast; a large scope — a
    list above the threshold or any DataFrame of docids — is translated
    to (shard, lid) by a docmap join and COGROUPED with the segment rows,
    so it never materializes on the driver (a 10^8-id caller scope at
    100 TB stays distributed end to end).

    A point query runs three Spark jobs (4 stages, ~8 tasks; counted in
    perfbench/README.md): the term-dictionary broadcast, the shard
    kernels, and the docmap rehydrate broadcast — AQE is off on the
    index's query session, so each broadcast is its own job. df rides
    into the shard kernels with the segment rows (segments_with_idf), so
    there is no separate driver-side lookup; idf is computed in the
    kernels. AND semantics stay exact when a query term is unknown
    globally: no shard can then hold all terms, so every kernel returns
    empty."""
    spark = index.spark
    if pre_analyzed is not None:
        terms = list(dict.fromkeys(pre_analyzed))
    else:
        _aq, _tok, _sg = _analyzers_for(index)
        terms = _aq(query)
    if not terms:
        return spark.createDataFrame([], RESULT_SCHEMA)
    neg_terms: list[str] = []
    if exclude_terms:
        if mode != "and":
            raise ValueError("exclude_terms (websearch '-term') is AND-only")
        neg_terms = sorted(set(exclude_terms))
        if set(terms) & set(neg_terms):
            return spark.createDataFrame([], RESULT_SCHEMA)  # contradiction
    n_terms = len(terms)
    avgdl = index.stats.avgdl
    n_docs = index.stats.n_docs
    mode_and = mode == "and"
    dead_bc = index.dead_broadcast()  # broadcast {shard: lid array} (or None)
    scope_df = scope_bc = None
    if allowed_docids is not None:
        if isinstance(allowed_docids, DataFrame):
            scope_df = allowed_docids
        elif len(allowed_docids) > SCOPE_INLINE_MAX:
            scope_df = spark.createDataFrame(
                ((int(d),) for d in allowed_docids), "docid long"
            )
        else:
            scope_bc = index.scope_broadcast(allowed_docids)
    scoped = allowed_docids is not None

    neg_set = set(neg_terms)

    def eval_shard(shard: int, pdf: pd.DataFrame, scope) -> pd.DataFrame:
        dead = _dead_of(dead_bc, shard)
        by_term, idf = _shard_lists(pdf, n_docs)
        rows = [(t, x) for t, x in by_term.items() if t not in neg_set]
        neg_rows = [(t, x) for t, x in by_term.items() if t in neg_set]
        if mode_and:
            if len(rows) < n_terms:
                return _shard_frame(shard, [])
            if n_terms == 1:
                res = _topk_single(
                    rows[0][1], idf[rows[0][0]], avgdl, k, dead, scope,
                    neg_rows,
                )
            else:
                res = _shard_kernel_and(
                    rows, idf, avgdl, k, dead, scope=scope, neg_rows=neg_rows
                )
        else:
            res = _shard_kernel_or(rows, idf, avgdl, k, dead, scope=scope)
        return _shard_frame(shard, res)

    def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        scope = (
            scope_bc.value.get(shard, _NO_DEAD) if scope_bc is not None
            else (_NO_DEAD if scoped else None)
        )
        return eval_shard(shard, pdf, scope)

    def run_shard_cogrouped(key, seg_pdf, scope_pdf) -> pd.DataFrame:
        # cogroup keys are the UNION of both sides' shards: a shard with
        # postings but no scoped docs (or vice versa) returns empty
        shard = int(key[0])
        scope = np.sort(scope_pdf["lid"].to_numpy().astype(np.int64))
        if len(seg_pdf) == 0 or scope.size == 0:
            return _shard_frame(shard, [])
        return eval_shard(shard, seg_pdf, scope)

    segs = index.segments_with_idf(terms + neg_terms)
    if scope_df is not None:
        scope_lids = index.docmap.join(
            scope_df.select(F.col("docid").cast("long").alias("docid")),
            "docid",
            "left_semi",
        ).select("shard", F.col("local_id").alias("lid"))
        per_shard = (
            segs.groupBy("shard")
            .cogroup(scope_lids.groupBy("shard"))
            .applyInPandas(
                run_shard_cogrouped, schema="shard int, lid long, score double"
            )
        )
    else:
        per_shard = segs.groupBy("shard").applyInPandas(
            run_shard, schema="shard int, lid long, score double"
        )
    # rehydrate lids -> global docids (docmap broadcast-join), then the
    # exact global order: (-score, docid) over per-shard top-k+ties.
    # ONE templated spark.sql call for the whole tail — the DataFrame-op
    # chain cost ~35 ms of py4j round trips per point query (r7 late);
    # identical plan (kernel output broadcasts, ORDER BY + LIMIT plans
    # as TakeOrderedAndProject)
    return index.spark.sql(
        "SELECT /*+ BROADCAST(p) */ dm.docid AS docid, p.score AS score "
        "FROM {p} p JOIN " + index._dm_view + " dm "
        "ON p.shard = dm.shard AND p.lid = dm.lid "
        f"ORDER BY p.score DESC, dm.docid ASC LIMIT {int(k)}",
        p=per_shard,
    )


def bm25_topk_websearch(
    index: SegmentIndex, query: str, k: int = 10
) -> DataFrame:
    """FULL websearch_to_tsquery semantics over the segment index
    (reference fusion.py:42): unprefixed words must ALL match, '"quoted
    words"' must additionally occur adjacently (chained <->), '-word'
    excludes documents containing it, '-"quoted words"' excludes documents
    containing the phrase adjacently, the standalone 'or' keyword joins
    conjunctive groups disjunctively (AND binds tighter), and a group-
    level contradiction drops that group (Postgres a & !a). Plain
    single-group queries ride the pruned AND path; single quoted groups
    run the combined positional kernel; everything else (OR / negated
    phrases) runs the group-union kernel. Rank/score bit-identical to
    OracleIndex.search_websearch (tested)."""
    from honeywell_search_engine_spark.functions.analyzer import parse_websearch_query

    spark = index.spark
    _aq, _tok, _sg = _analyzers_for(index)
    groups = _sg(parse_websearch_query(query))
    if not groups:
        return spark.createDataFrame([], RESULT_SCHEMA)

    avgdl = index.stats.avgdl
    n_docs = index.stats.n_docs
    dead_bc = index.dead_broadcast()

    if len(groups) == 1 and not groups[0][3]:
        all_pos, neg, phrases, _ = groups[0]
        if not phrases:
            # all_pos/neg are already index-analyzed (stemmed if the index
            # is) — pass them through pre_analyzed so they're not re-stemmed
            # (Porter is not idempotent; round-4 advice, wand.py:1090)
            return bm25_topk_wand(
                index, query, k, exclude_terms=neg, pre_analyzed=all_pos
            )

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(key[0])
            by_term, idf = _shard_lists(pdf, n_docs)
            if any(t not in by_term for t in all_pos):
                return _shard_frame(shard, [])
            res = _shard_kernel_websearch(
                [(t, by_term[t]) for t in all_pos], phrases,
                [(t, by_term[t]) for t in neg if t in by_term],
                idf, avgdl, k, _dead_of(dead_bc, shard),
            )
            return _shard_frame(shard, res)

        scan_terms = all_pos + neg
    else:
        # general path: OR of groups and/or negated phrases — the scan
        # covers every group's positive, negated, and neg-phrase terms
        scan_terms = sorted(
            {t for g in groups for t in g[0]}
            | {t for g in groups for t in g[1]}
            | {t for g in groups for ph in g[3] for t in ph}
        )

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(key[0])
            by_term, idf = _shard_lists(pdf, n_docs)
            res = _shard_kernel_websearch_or(
                groups, by_term, idf, avgdl, k, _dead_of(dead_bc, shard)
            )
            return _shard_frame(shard, res)

    segs = index.segments_with_idf(scan_terms)
    per_shard = segs.groupBy("shard").applyInPandas(
        run_shard, schema="shard int, lid long, score double"
    )
    return _ranked(index, per_shard, k)


BATCH_RESULT_SCHEMA = "qid string, rnk int, docid long, score double"
_BATCH_SHARD_SCHEMA = "qid string, shard int, lid long, score double"


def _batch_frame(shard: int, out: list) -> pd.DataFrame:
    """[(qid, shard-local top-k list)] -> one task's output rows."""
    rows = [(q, int(d), float(s)) for q, res in out for d, s in res]
    return pd.DataFrame(
        {
            "qid": [q for q, _, _ in rows],
            "shard": [shard] * len(rows),
            "lid": [d for _, d, _ in rows],
            "score": [s for _, _, s in rows],
        }
    )


def _use_count(term_sets) -> dict[str, int]:
    """How many queries of a batch use each term."""
    count: dict[str, int] = {}
    for ts in term_sets:
        for t in set(ts):
            count[t] = count.get(t, 0) + 1
    return count


def bm25_topk_websearch_batch(
    index: SegmentIndex, queries: dict[str, str], k: int = 10
) -> DataFrame:
    """A whole batch of websearch queries (plain AND, '"quoted"' groups,
    '-term' negation, freely mixed) in ONE Spark job: one pruned segment
    scan over the union of every query's positive AND negated terms, one
    applyInPandas over shards where each kernel answers every query it
    can serve, one per-query rank window. Returns (qid, rnk, docid,
    score) — identical to per-query bm25_topk_websearch (tested)."""
    from honeywell_search_engine_spark.functions.analyzer import parse_websearch_query

    spark = index.spark
    _aq, _tok, _sg = _analyzers_for(index)
    parsed: dict[str, list] = {}
    for qid, q in queries.items():
        groups = _sg(parse_websearch_query(q))
        if groups:  # no matchable group: no rows for this qid
            parsed[qid] = groups
    scan_terms = sorted(
        {
            t
            for groups in parsed.values()
            for g in groups
            for t in list(g[0]) + list(g[1]) + [x for ph in g[3] for x in ph]
        }
    )
    if not scan_terms:
        return spark.createDataFrame([], BATCH_RESULT_SCHEMA)
    avgdl = index.stats.avgdl
    n_docs = index.stats.n_docs
    dead_bc = index.dead_broadcast()

    q_terms = []
    need_pos: set = set()
    for groups in parsed.values():
        q_t = set()
        for g in groups:
            q_t |= set(g[0]) | set(g[1])
            for ph in list(g[2]) + list(g[3]):
                q_t |= set(ph)
                need_pos |= set(ph)
        q_terms.append(q_t)
    use_count = _use_count(q_terms)

    def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        dead = _dead_of(dead_bc, shard)
        by_term, idf = _shard_lists(pdf, n_docs)
        by_term = _shared_memo(by_term, use_count, need_pos)
        out = []
        for qid, groups in parsed.items():
            if len(groups) == 1 and not groups[0][3]:
                all_pos, neg, phrases, _ = groups[0]
                pos_rows = [(t, by_term[t]) for t in all_pos if t in by_term]
                if len(pos_rows) < len(all_pos):
                    continue  # a required term absent in this shard
                neg_rows = [(t, by_term[t]) for t in neg if t in by_term]
                if phrases:
                    res = _shard_kernel_websearch(
                        pos_rows, phrases, neg_rows, idf, avgdl, k, dead
                    )
                elif len(all_pos) == 1:
                    res = _topk_single(
                        pos_rows[0][1], idf[pos_rows[0][0]], avgdl, k, dead,
                        None, neg_rows,
                    )
                else:
                    res = _shard_kernel_and(
                        pos_rows, idf, avgdl, k, dead, neg_rows=neg_rows
                    )
            else:  # OR groups / negated phrases: group-union kernel
                res = _shard_kernel_websearch_or(
                    groups, by_term, idf, avgdl, k, dead
                )
            out.append((qid, res))
        return _batch_frame(shard, out)

    segs = index.segments_with_idf(scan_terms)
    per_shard = segs.groupBy("shard").applyInPandas(
        run_shard, schema=_BATCH_SHARD_SCHEMA
    )
    return _ranked_batch(index, per_shard, k)


def bm25_topk_phrase_batch(
    index: SegmentIndex, queries: dict[str, str], k: int = 10, slop: int = 0
) -> DataFrame:
    """Evaluate a batch of phrase/NEAR queries in ONE Spark job (same
    amortization as bm25_topk_wand_batch: one pruned positional segment
    scan over the union of all phrases' terms, per-shard kernels answer
    every phrase they can serve, one rank window). Returns
    (qid, rnk, docid, score) — identical to per-query bm25_topk_phrase."""
    spark = index.spark
    _aq, _tok, _sg = _analyzers_for(index)  # stemmed index -> stemmed queries
    q_terms = {qid: _tok(q) for qid, q in queries.items()}
    live = {qid: ts for qid, ts in q_terms.items() if ts}
    scan_terms = sorted({t for ts in live.values() for t in ts})
    if not scan_terms:
        return spark.createDataFrame([], BATCH_RESULT_SCHEMA)
    avgdl = index.stats.avgdl
    n_docs = index.stats.n_docs
    dead_bc = index.dead_broadcast()
    use_count = _use_count(live.values())

    def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        dead = _dead_of(dead_bc, shard)
        by_term, idf = _shard_lists(pdf, n_docs)
        by_term = _shared_memo(by_term, use_count, need_pos=by_term)
        out = []
        for qid, ts in live.items():
            if any(t not in by_term for t in ts):
                continue
            res = _shard_kernel_phrase(
                [(t, by_term[t]) for t in ts], idf, avgdl, k, dead, slop
            )
            out.append((qid, res))
        return _batch_frame(shard, out)

    segs = index.segments_with_idf(scan_terms)
    per_shard = segs.groupBy("shard").applyInPandas(
        run_shard, schema=_BATCH_SHARD_SCHEMA
    )
    return _ranked_batch(index, per_shard, k)


def bm25_topk_wand_batch(
    index: SegmentIndex, queries: dict[str, str], k: int = 10, mode: str = "and"
) -> DataFrame:
    """Evaluate a whole query batch in ONE Spark job.

    Per-query jobs pay ~0.3-0.5 s of scheduling each; a search engine's
    natural unit is the query *stream* (the reference's design target is
    100 q/s, PIPELINE.md:350). Here: one pruned segment scan over the
    union of all queries' terms, one applyInPandas over shards where each
    shard kernel answers every query it can serve, one final per-query
    rank window over <= n_queries * n_shards * k tiny rows.

    Returns DataFrame(qid, rnk, docid, score), rank per query by
    (-score, docid) — identical results to per-query bm25_topk_wand
    (tested)."""
    spark = index.spark
    _aq, _tok, _sg = _analyzers_for(index)  # stemmed index -> stemmed queries
    q_terms = {qid: _aq(q) for qid, q in queries.items()}
    live_b = {qid: ts for qid, ts in q_terms.items() if ts}
    scan_terms = sorted({t for ts in live_b.values() for t in ts})
    if not scan_terms:
        return spark.createDataFrame([], BATCH_RESULT_SCHEMA)
    mode_and = mode == "and"
    avgdl = index.stats.avgdl
    n_docs = index.stats.n_docs
    dead_bc = index.dead_broadcast()
    use_count = _use_count(live_b.values())

    def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        dead = _dead_of(dead_bc, shard)
        by_term, idf = _shard_lists(pdf, n_docs)
        by_term = _shared_memo(by_term, use_count)
        out = []
        for qid, ts in live_b.items():
            rows = [(t, by_term[t]) for t in ts if t in by_term]
            if mode_and:
                if len(rows) < len(ts):
                    continue  # some term absent in this shard => no AND hit here
                if len(ts) == 1:
                    res = _topk_single(rows[0][1], idf[rows[0][0]], avgdl, k, dead)
                else:
                    res = _shard_kernel_and(rows, idf, avgdl, k, dead)
            else:
                if not rows:
                    continue
                res = _shard_kernel_or(rows, idf, avgdl, k, dead)
            out.append((qid, res))
        return _batch_frame(shard, out)

    segs = index.segments_with_idf(scan_terms)
    per_shard = segs.groupBy("shard").applyInPandas(
        run_shard, schema=_BATCH_SHARD_SCHEMA
    )
    return _ranked_batch(index, per_shard, k)
