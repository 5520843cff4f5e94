"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §3).

Generates the `web_pages(url, warc_ts, html, text, lang)` table per
BASELINE.json input_hint, plus exact ground truth for every pipeline
stage (the generator knows which mentions it planted):

* text          — what extraction must reproduce BYTE-IDENTICALLY
* mention-level triples — what template extraction must emit (P/R=1 target)
* entity clusters — which surface forms co-refer (linking ground truth)
* canonical triples — mention triples rewritten through the true
  canonical map with min-IRI election (end-to-end P/R ≥ 0.95 gate)

Entity mention frequency is Zipf-distributed to create the head-entity
skew the north rule requires the engine to handle.
Everything derives from an integer seed; no external data.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import types as T

from kgforge.mapping.spec import sanitize_py

DOMAIN = "https://kg.example.org/web#"

# The one `web_pages` schema: the in-memory DataFrame, the parquet
# writers (as Arrow types) and the streaming reader all use it.
WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

RELATIONS = {
    "works_for": "works for",
    "founded": "founded",
    "located_in": "is located in",
    "partner_of": "is a partner of",
}

_SYL = ["ba", "den", "fir", "gol", "han", "kel", "lor", "mun",
        "nor", "pra", "quin", "ras", "sol", "tam", "vex", "wil",
        "yor", "zan", "bel", "cor", "dag", "esh", "fon", "gim",
        "hul", "ist", "jor", "kaz", "lub", "mer", "nim", "osk",
        "pel", "rud", "sev", "tir", "urn", "vol", "wex", "yub"]


def _word_pool(rng: random.Random, n: int) -> list[str]:
    """Globally unique words: distinct entities share no whole word, so
    surface similarity separates clusters (a surface-only linker has no
    context signal; cross-entity word reuse is out of scope here)."""
    if n > 2_000_000:
        raise ValueError(f"word pool of {n} exceeds the 4-syllable combo space")
    pool: list[str] = []
    seen: set[str] = set()
    # no word may be a substring of another ("Yorpra"/"Rasyorpra" are
    # indistinguishable to a surface-only linker). The O(n²) pairwise
    # check is exact for small pools; for large pools it is skipped —
    # with uniform same-syllable-count words cross-boundary containment
    # is rare enough (<~1e-4 of pairs) that it cannot move the P/R gate.
    check_substrings = n <= 1500
    # fixed syllable count per pool: with mixed 2/3-syllable words the
    # substring-free constraint exhausts the space (every 3-syl word
    # starts with some 2-syl word) and generation livelocks. Large
    # pools use 4 syllables (combo space 40^4 ≈ 2.6M).
    n_syl = 3 if n <= 30000 else 4
    while len(pool) < n:
        w = "".join(rng.choice(_SYL) for _ in range(n_syl)).capitalize()
        lw = w.lower()
        if lw in seen:
            continue
        if check_substrings and any(lw in p or p in lw for p in seen):
            continue
        seen.add(lw)
        pool.append(w)
    rng.shuffle(pool)
    return pool


@dataclass
class Entity:
    eid: str           # stable generator id, e.g. person:17
    kind: str          # person | org | place
    canonical: str     # canonical surface form
    variants: list[str]  # all surface forms incl. canonical


def _variants(rng: random.Random, name: str, kind: str) -> list[str]:
    """Surface-form variants engineered to stay 3-gram-similar to the
    canonical name (casing, suffix, single-char typo) so a correct
    linker can cluster them, while distinct entities stay far apart."""
    out = [name]
    out.append(name.upper())
    if kind == "org":
        out.append(name + " Inc")
    # single-character typo: drop one mid-word character — only on
    # names long enough that the variant stays 3-gram-linkable
    body = list(name)
    mid = len(body) // 2
    if len(body) >= 10 and body[mid] != " ":
        out.append("".join(body[:mid] + body[mid + 1 :]))
    return out


def make_entities(
    seed: int = 42, n_person: int = 80, n_org: int = 60, n_place: int = 30
) -> list[Entity]:
    rng = random.Random(seed)
    pool = _word_pool(rng, n_person * 2 + n_org * 2 + n_place)
    it = iter(pool)
    ents: list[Entity] = []

    def mk(kind: str, i: int, words: int) -> Entity:
        nm = " ".join(next(it) for _ in range(words))
        return Entity(f"{kind}:{i}", kind, nm, _variants(rng, nm, kind))

    ents += [mk("person", i, 2) for i in range(n_person)]
    ents += [mk("org", i, 2) for i in range(n_org)]
    ents += [mk("place", i, 1) for i in range(n_place)]
    return ents


def mention_iri(surface: str) -> str:
    return DOMAIN + "m_" + sanitize_py(surface, "v5")


def _zipf_cum(n: int, a: float = 1.3) -> list[float]:
    """Cumulative Zipf weights (precomputed once; rank r ∝ 1/r^a)."""
    total, out = 0.0, []
    for r in range(n):
        total += 1.0 / ((r + 1) ** a)
        out.append(total)
    return out


_HTML_HEAD = (
    "<html><head><title>{title}</title>"
    "<style>body {{ font: 14px sans-serif; }}</style>"
    "<script>var tracker = {page};</script></head>"
    "<body><nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a></nav>"
    "<header><h1>{title}</h1></header>"
)
_HTML_FOOT = "<footer>&copy; 2024 Example Org</footer></body></html>"

_FILLERS = [
    "Welcome to our homepage.",
    "All rights reserved.",
    "Contact us for more information.",
]


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


@dataclass
class Corpus:
    pages: list[tuple]          # (url, warc_ts, html, text, lang)
    mention_triples: set        # (subj_iri, pred_iri, obj_iri)
    surface_entity: dict        # surface form -> eid (true clustering)
    labels: set                 # (mention_iri, surface) rdfs:label pairs


def _page_stream(
    n_pages: int,
    seed: int,
    facts_per_page: tuple[int, int] = (2, 6),
    hub_frac: float = 0.0,
):
    """The one page generator: yields `(page, facts)` per page, page =
    a `web_pages` row `(url, warc_ts, html, text, lang)`, facts = the
    `(s_ent, rel, o_ent, s_surf, o_surf)` mentions planted on it.

    Entity universe scales with corpus size (floors keep small test
    corpora byte-stable): a fixed fact base would make every
    downstream stage collapse to constant-size output under dedup,
    which misrepresents scaling — in a real crawl the entity/fact
    population grows with the page count."""
    rng = random.Random(seed * 7919 + 13)
    ents = make_entities(
        seed,
        n_person=min(max(80, n_pages // 50), 250000),
        n_org=min(max(60, n_pages // 80), 150000),
        n_place=min(max(30, n_pages // 250), 50000),
    )
    persons = [e for e in ents if e.kind == "person"]
    orgs = [e for e in ents if e.kind == "org"]
    places = [e for e in ents if e.kind == "place"]

    # fixed fact base (entity-level truth), Zipf-skewed endpoints
    # (cum weights hoisted: per-pick recomputation is quadratic in the
    # entity universe and livelocks generation at large scale)
    org_cum = _zipf_cum(len(orgs))
    place_cum = _zipf_cum(len(places))

    def pick(items, cum):
        return rng.choices(items, cum_weights=cum, k=1)[0]

    facts: list[tuple[Entity, str, Entity]] = []
    for p in persons:
        facts.append((p, "works_for", pick(orgs, org_cum)))
        if rng.random() < 0.25:
            facts.append((p, "founded", pick(orgs, org_cum)))
    for o in orgs:
        facts.append((o, "located_in", pick(places, place_cum)))
        if rng.random() < 0.3:
            facts.append((o, "partner_of", pick(orgs, org_cum)))

    # ground truth requires every surface form to denote exactly one
    # entity (typo variants could in principle collide across entities)
    owner: dict[str, str] = {}
    for e in ents:
        for v in e.variants:
            if owner.setdefault(v, e.eid) != e.eid:
                raise AssertionError(f"surface collision: {v!r}")

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    fact_cum = _zipf_cum(len(facts), a=1.1)  # hoisted: O(1) page loop
    hub = orgs[0]  # planted mega-hub (already the Zipf head org)
    for i in range(n_pages):
        k = rng.randint(*facts_per_page)
        page_facts = list(rng.choices(facts, cum_weights=fact_cum, k=k))
        if hub_frac and rng.random() < hub_frac:
            # head-entity skew fixture: the hub appears as SUBJECT on
            # ~hub_frac of all pages, partnered with a random org —
            # the canonical hub IRI then dominates the subject column
            page_facts.append((hub, "partner_of", pick(orgs, org_cum)))
        planted = []
        lines: list[str] = []
        for s_ent, rel, o_ent in page_facts:
            s_surf = rng.choice(s_ent.variants)
            o_surf = rng.choice(o_ent.variants)
            lines.append(f"{s_surf} {RELATIONS[rel]} {o_surf}.")
            planted.append((s_ent, rel, o_ent, s_surf, o_surf))
        if rng.random() < 0.5:
            lines.append(rng.choice(_FILLERS))
        text = "\n".join(lines)
        title = f"Report {i}"
        html = (
            _HTML_HEAD.format(title=title, page=i)
            + "".join(f"<p>{_esc(ln)}</p>" for ln in lines)
            + _HTML_FOOT
        )
        url = f"https://ex{seed}.org/page/{i}"
        lang = rng.choices(
            ["en", "es", "de", "fr", "zh"], weights=[70, 10, 8, 7, 5]
        )[0]
        yield (url, t0 + timedelta(seconds=i), html.encode("utf-8"), text, lang), planted


def make_corpus(
    n_pages: int = 1000,
    seed: int = 42,
    facts_per_page: tuple[int, int] = (2, 6),
    hub_frac: float = 0.0,
) -> Corpus:
    """The pages of `_page_stream` in memory, with their ground truth."""
    pages: list[tuple] = []
    mention_triples: set = set()
    surface_entity: dict[str, str] = {}
    labels: set = set()
    for page, planted in _page_stream(n_pages, seed, facts_per_page, hub_frac):
        pages.append(page)
        for s_ent, rel, o_ent, s_surf, o_surf in planted:
            s_iri, o_iri = mention_iri(s_surf), mention_iri(o_surf)
            mention_triples.add((s_iri, DOMAIN + rel, o_iri))
            surface_entity[s_surf] = s_ent.eid
            surface_entity[o_surf] = o_ent.eid
            labels.add((s_iri, s_surf))
            labels.add((o_iri, o_surf))
    return Corpus(pages, mention_triples, surface_entity, labels)


def true_canonical_map(corpus: Corpus) -> dict[str, str]:
    """surface-form IRI -> canonical IRI under TRUE clustering with
    min-IRI election (the pipeline's target output)."""
    clusters: dict[str, list[str]] = {}
    for surf, eid in corpus.surface_entity.items():
        clusters.setdefault(eid, []).append(mention_iri(surf))
    out: dict[str, str] = {}
    for iris in clusters.values():
        rep = min(iris)
        for iri in iris:
            out[iri] = rep
    return out


def true_canonical_triples(corpus: Corpus) -> set:
    cmap = true_canonical_map(corpus)
    return {
        (cmap[s], p, cmap[o]) for (s, p, o) in corpus.mention_triples
    }


def corpus_to_parquet(
    path: str,
    n_pages: int,
    seed: int = 42,
    rows_per_file: int = 4000,
    hub_frac: float = 0.0,
) -> None:
    """Write the web_pages table as a MULTI-FILE parquet dataset via
    pyarrow, STREAMING chunk by chunk (a multi-million-page corpus
    doesn't fit as one Python list; used by the scaling benchmark so
    corpus generation stays outside the timed window; ground-truth
    tracking is skipped — benchmarks need bytes, not oracles). The
    pages are `make_corpus`'s, byte for byte.

    One file per `rows_per_file` pages: a single small parquet file is
    ONE Spark input split regardless of core count — the 4N run would
    serialize on the scan. Many files ≡ the many objects a real
    100 TB Iceberg table has."""
    import itertools
    import os

    import pyarrow.parquet as pq

    pages = (page for page, _ in _page_stream(n_pages, seed, hub_frac=hub_frac))
    os.makedirs(path, exist_ok=True)
    for start in range(0, n_pages, rows_per_file):
        chunk = list(itertools.islice(pages, rows_per_file))
        pq.write_table(_pages_table(chunk), os.path.join(path, f"part-{start:09d}.parquet"))


def _pages_table(pages: list[tuple]):
    """`web_pages` rows → a `pyarrow.Table` typed by WEB_PAGES_SCHEMA
    (Arrow fields stay nullable, as pyarrow writes them by default)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.table(
        {
            f.name: pa.array(col, to_arrow_type(f.dataType))
            for f, col in zip(WEB_PAGES_SCHEMA.fields, zip(*pages))
        }
    )


def pages_dataframe(spark, corpus: Corpus, num_partitions: int = 8):
    """In-memory corpus → DataFrame (tests + contract query; the
    bench-scale path is corpus_to_parquet). Goes through local_df
    (Arrow LocalRelation) then repartitions to `num_partitions` real
    partitions — createDataFrame(list) would plan 32 near-empty
    slices that every downstream pipeline stage inherits."""
    from kgforge.session import local_df

    return local_df(spark, corpus.pages, WEB_PAGES_SCHEMA).repartition(num_partitions)


def contract_corpus_parquet(n_pages: int = 300, seed: int = 42) -> str:
    """The contract-gate corpus as ONE deterministic parquet file,
    written atomically and idempotently (content is a pure function of
    the arguments — seed-derived, no wall clock). Both sides of the
    correctness gate consume THIS file: the Spark contract query reads
    it with spark.read.parquet, and the DuckDB oracle reads it with
    read_parquet, so the two engines start from byte-identical input
    without the oracle having to re-derive the generator.

    The pages are generated on every call (milliseconds at 300 pages)
    and the file name carries a digest of the generated Arrow table, so
    a file written by an older generator is never reused."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = _pages_table(make_corpus(n_pages=n_pages, seed=seed).pages)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    digest = hashlib.sha256(sink.getvalue()).hexdigest()[:16]
    path = f"/tmp/kgforge_contract_corpus_{n_pages}_{seed}_{digest}.parquet"
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path
