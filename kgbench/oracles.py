"""Pure-Python expected outputs for every workload, and the scoring rule.

Nothing here imports kgforge's engine code: the web truth comes from
the corpus generator's own bookkeeping, the CSV truth from the
row-at-a-time reference model in tests/oracle.py, SPARQL answers from
a direct evaluation over the collected graph, and near-duplicate pairs
from exact all-pairs (or all-bucket) comparison.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict
from itertools import combinations

RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"


def score(got, want) -> tuple[int, int, int]:
    """(correct, produced, expected) of a multiset of outputs."""
    got, want = Counter(got), Counter(want)
    return sum((got & want).values()), sum(got.values()), sum(want.values())


# ------------------------------------------------------------------ web
def web_truth(corpus) -> set[tuple[str, str, str]]:
    """Canonical relation triples plus canonical rdfs:label triples."""
    from kgforge.web.corpus import true_canonical_map, true_canonical_triples

    cmap = true_canonical_map(corpus)
    labels = {(cmap[iri], RDFS_LABEL, surface) for iri, surface in corpus.labels}
    return true_canonical_triples(corpus) | labels


# ------------------------------------------------------------------ dedup
def _tokens(text: str) -> list[str]:
    # the engine splits trim(text) on \s+; generated docs hold single spaces
    return text.strip().split(" ")


def _shingles(toks: list[str], k: int) -> set[str]:
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def minhash_pairs(docs, num_hashes=8, bands=4, k=5) -> set[tuple[int, int]]:
    """Pairs sharing at least one band of the md5 MinHash signature."""
    rows = num_hashes // bands
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for doc_id, text in docs:
        sh = _shingles(_tokens(text), k)
        sig = [
            min(hashlib.md5(f"seed{i}:{s}".encode()).hexdigest() for s in sh)
            for i in range(num_hashes)
        ]
        for b in range(bands):
            buckets[(b, tuple(sig[b * rows : (b + 1) * rows]))].append(doc_id)
    out = set()
    for ids in buckets.values():
        out.update(combinations(sorted(ids), 2))
    return out


def _simhash60(text: str) -> int:
    acc = [0] * 60
    for tok in text.split():
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for bit in range(60):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    return sum(1 << b for b in range(60) if acc[b] > 0)


def simhash_pairs(docs, max_hamming=3) -> set[tuple[int, int]]:
    """All pairs whose 60-bit SimHash differs in at most `max_hamming` bits."""
    sigs = sorted((doc_id, _simhash60(text)) for doc_id, text in docs)
    return {
        (a, b)
        for (a, sa), (b, sb) in combinations(sigs, 2)
        if (sa ^ sb).bit_count() <= max_hamming
    }


def ngram_pairs(docs, threshold=0.8, k=3) -> set[tuple[int, int, float]]:
    """All pairs whose k-word shingle sets have Jaccard >= threshold.

    Only pairs sharing a shingle can pass a positive threshold, so the
    shingle index enumerates every pair that can qualify."""
    sets = {doc_id: _shingles(_tokens(text), k) for doc_id, text in docs}
    index: dict[str, list[int]] = defaultdict(list)
    for doc_id, sh in sets.items():
        for s in sh:
            index[s].append(doc_id)
    cands = set()
    for ids in index.values():
        cands.update(combinations(sorted(ids), 2))
    out = set()
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        jac = inter / (len(sets[a]) + len(sets[b]) - inter)
        if jac >= threshold:
            out.add((a, b, round(jac, 9)))
    return out


# ------------------------------------------------------------------ sparql
class Graph:
    """Indexes over a collected (subj, pred, obj, obj_dt) triple set."""

    def __init__(self, triples):
        self.triples = set(triples)
        self.sp: dict[tuple, list] = defaultdict(list)
        self.po: dict[tuple, list] = defaultdict(list)
        self.by_p: dict[str, list] = defaultdict(list)
        self.by_s: dict[str, list] = defaultdict(list)
        for t in self.triples:
            s, p, o, _dt = t
            self.sp[(s, p)].append(t)
            self.po[(p, o)].append(t)
            self.by_p[p].append(t)
            self.by_s[s].append(t)

    # one method per query class; each returns the expected result rows
    def point(self, s, p):
        return [(o,) for _s, _p, o, _dt in self.sp[(s, p)]]

    def join(self, p1, p2, c):
        return [
            (x, y)
            for _y, _p2, _c, _ in self.po[(p2, c)]
            for x, _p1, y, _ in self.po[(p1, _y)]
        ]

    def optional(self, p, c, p_opt):
        out = []
        for x, _p, _c, _ in self.po[(p, c)]:
            opts = [(x, o) for _x, _q, o, _ in self.sp[(x, p_opt)]]
            out.extend(opts or [(x, None)])
        return out

    def aggregate(self, p):
        counts = Counter(o for _s, _p, o, _ in self.by_p[p])
        return [(o, str(n)) for o, n in counts.items()]

    def _reach(self, s, p) -> tuple[set, int]:
        """(nodes reachable from s over one or more p steps, BFS depth)."""
        seen, frontier, depth = set(), [s], 0
        while frontier:
            nxt = []
            for x in frontier:
                for _s, _p, o, dt in self.sp[(x, p)]:
                    if o not in seen:
                        seen.add(o)
                        if dt is None:  # a literal ends a path
                            nxt.append(o)
            depth += bool(nxt)
            frontier = nxt
        return seen, depth

    def path(self, s, p):
        return [(o,) for o in self._reach(s, p)[0]]

    def depth(self, s, p) -> int:
        return self._reach(s, p)[1]

    def ask(self, s, p, o):
        return [(any(t[2] == o for t in self.sp[(s, p)]),)]

    def describe(self, s):
        return list(self.by_s[s])


_SAFE_IRI = re.compile(r"^[^<>\"{}|^`\\\s]+$")


def iri_ok(iri: str) -> bool:
    """An IRI the SPARQL tokenizer accepts inside <...>."""
    return bool(_SAFE_IRI.match(iri))
