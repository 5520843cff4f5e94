"""North-rule pipeline tests: extraction byte-identity, mention-triple
exactness, linking cluster quality, end-to-end canonical-triple P/R."""

from __future__ import annotations

import dataclasses
import hashlib

import pytest
from pyspark.sql import functions as F

from kgforge.profile import ScaleProfile
from kgforge.web import corpus as C
from kgforge.web.canon import canonical_map, connected_components, rewrite_triples
from kgforge.web.extract import extract_text, extract_text_py
from kgforge.web.mentions import extract_mention_triples
from kgforge.web.pipeline import run_pipeline, surfaces_of


@pytest.fixture(scope="module")
def corpus():
    return C.make_corpus(n_pages=300, seed=42)


@pytest.fixture(scope="module")
def pages(spark, corpus):
    return C.pages_dataframe(spark, corpus).cache()


# ------------------------------------------------------------- corpus
def test_corpus_to_parquet_writes_make_corpus_pages(tmp_path):
    """The streamed multi-file writer and the in-memory generator share
    one page stream: the files hold make_corpus's pages byte for byte,
    in order, hub pages included."""
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path / "pages")
    C.corpus_to_parquet(path, 300, seed=5, rows_per_file=70, hub_frac=0.05)
    files = sorted(os.listdir(path))
    assert len(files) == 5
    rows = [
        tuple(r.values())
        for f in files
        for r in pq.read_table(os.path.join(path, f)).to_pylist()
    ]
    assert rows == C.make_corpus(300, seed=5, hub_frac=0.05).pages


def test_one_web_pages_schema(spark, tmp_path, corpus):
    """The in-memory DataFrame, the parquet writers and the streaming
    reader type web_pages with the one WEB_PAGES_SCHEMA."""
    from kgforge import streaming

    def typed(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    path = str(tmp_path / "pages")
    C.corpus_to_parquet(path, 20, seed=3, rows_per_file=10)
    want = typed(C.WEB_PAGES_SCHEMA)
    assert streaming.WEB_PAGES_SCHEMA is C.WEB_PAGES_SCHEMA
    assert typed(C.pages_dataframe(spark, corpus).schema) == want
    assert typed(spark.read.parquet(C.contract_corpus_parquet()).schema) == want
    assert typed(spark.read.parquet(path).schema) == want
    assert typed(spark.readStream.schema(streaming.WEB_PAGES_SCHEMA).parquet(path).schema) == want


def test_contract_corpus_follows_the_generator(monkeypatch):
    """The contract corpus file is keyed on the generated table: a
    generator that changes one page gets a new path with new bytes, so
    a file written by another generator is never reused."""
    import os

    make = C.make_corpus

    def changed(*args, **kwargs):
        corpus = make(*args, **kwargs)
        url, ts, html, text, lang = corpus.pages[0]
        return dataclasses.replace(
            corpus, pages=[(url, ts, html, text + " changed", lang), *corpus.pages[1:]]
        )

    path = C.contract_corpus_parquet(40, seed=9)
    monkeypatch.setattr(C, "make_corpus", changed)
    new = C.contract_corpus_parquet(40, seed=9)
    try:
        assert new != path
        with open(path, "rb") as f, open(new, "rb") as g:
            assert f.read() != g.read()
        assert C.contract_corpus_parquet(40, seed=9) == new
    finally:
        os.remove(path)
        os.remove(new)


# ------------------------------------------------------------- extraction
def test_extract_byte_identity_single_node(corpus):
    """The pinned extractor reproduces ground-truth text byte-for-byte
    (and with it test_extract_byte_identity_spark pins the Catalyst
    extractor to the reference on the whole fixture corpus)."""
    for url, ts, html, text, lang in corpus.pages:
        assert extract_text_py(html) == text, url


def test_extract_byte_identity_spark(spark, pages, corpus):
    got = {
        r.url: hashlib.sha256(r.text_extracted.encode()).hexdigest()
        for r in extract_text(pages).select("url", "text_extracted").collect()
    }
    want = {
        url: hashlib.sha256(text.encode()).hexdigest()
        for url, _, _, text, _ in corpus.pages
    }
    assert got == want


# ------------------------------------------------------------- mentions
def test_mention_triples_exact(spark, pages, corpus):
    out = extract_mention_triples(pages, text_col="text")
    got = {
        (r.subj, r.pred, r.obj)
        for r in out.filter(F.col("obj_dt").isNull()).collect()
    }
    assert got == corpus.mention_triples
    # labels carried for every mention IRI
    lbl = {
        (r.subj, r.obj)
        for r in out.filter(F.col("obj_dt") == "").collect()
    }
    assert lbl == corpus.labels


def test_mention_provenance_deterministic(spark, pages):
    a = extract_mention_triples(pages).select("subj", "pred", "obj", "prov_url")
    b = extract_mention_triples(pages).select("subj", "pred", "obj", "prov_url")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


# ------------------------------------------------------------- CC
def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("f", "e"), ("x", "y")],
        ["src", "dst"],
    )
    cc = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert cc == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("d", "d"), ("e", "d"), ("f", "d"),
        ("x", "x"), ("y", "x"),
    }


def test_connected_components_chain_and_fixpoint(spark):
    # pathological chain — needs the O(log n) star rounds
    n = 64
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], ["src", "dst"]
    )
    cc = connected_components(edges)
    comps = {r.component for r in cc.collect()}
    assert comps == {"n000"}
    assert cc.count() == n + 1


def test_connected_components_schema_stable_by_input_size(spark):
    """Empty and non-empty edge lists must agree on output types: the
    empty case previously hardcoded strings while the non-empty case
    inferred from pandas (long for numeric ids)."""
    empty = spark.createDataFrame([], "src long, dst long")
    some = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    t_empty = [f.dataType for f in connected_components(empty).schema.fields]
    t_some = [f.dataType for f in connected_components(some).schema.fields]
    assert t_empty == t_some
    assert connected_components(empty).count() == 0


# ------------------------------------------------------------- end-to-end
def pairwise_f1(pred_map: dict, true_map: dict) -> tuple[float, float, float]:
    def pairs(m):
        clusters: dict[str, list[str]] = {}
        for k, v in m.items():
            clusters.setdefault(v, []).append(k)
        out = set()
        for mem in clusters.values():
            mem = sorted(mem)
            for i in range(len(mem)):
                for j in range(i + 1, len(mem)):
                    out.add((mem[i], mem[j]))
        return out

    pp, tp = pairs(pred_map), pairs(true_map)
    if not pp or not tp:
        return (0.0, 0.0, 0.0)
    inter = len(pp & tp)
    p, r = inter / len(pp), inter / len(tp)
    return p, r, 2 * p * r / (p + r) if p + r else 0.0


def test_pipeline_end_to_end_pr(spark, pages, corpus):
    out = run_pipeline(pages, text_from_html=True)
    got = {
        (r.subj, r.pred, r.obj)
        for r in out["canonical_triples"].filter(F.col("obj_dt").isNull()).collect()
    }
    want = C.true_canonical_triples(corpus)
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.4f} R={recall:.4f} got={len(got)} want={len(want)}"
    )


def test_pipeline_end_to_end_pr_scale_profile(spark, pages, corpus):
    """The SCALE profile (every guard armed — the posture the contract
    query and crawl-scale runs use) keeps the north-rule P/R gate."""
    from kgforge.profile import SCALE

    out = run_pipeline(pages, text_from_html=True, profile=SCALE)
    got = {
        (r.subj, r.pred, r.obj)
        for r in out["canonical_triples"].filter(F.col("obj_dt").isNull()).collect()
    }
    want = C.true_canonical_triples(corpus)
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.4f} R={recall:.4f} got={len(got)} want={len(want)}"
    )


def test_linking_cluster_quality(spark, pages, corpus):
    out = run_pipeline(pages, text_from_html=False)
    pred_map = {r.node: r.canon for r in out["canonical_map"].collect()}
    true_map = {
        C.mention_iri(s): canon
        for s, canon in (
            (s, C.true_canonical_map(corpus)[C.mention_iri(s)])
            for s in corpus.surface_entity
        )
    }
    p, r, f1 = pairwise_f1(pred_map, true_map)
    assert f1 >= 0.95, f"pairwise P={p:.4f} R={r:.4f} F1={f1:.4f}"


def test_link_surfaces_has_one_scorer(spark):
    from kgforge.web.linking import link_surfaces

    surfaces = spark.createDataFrame([("Alpha Corp",)], "surface string")
    with pytest.raises(ValueError, match="scorer"):
        link_surfaces(surfaces, scorer="tfidf")


def test_rewrite_triples_prov_modes(spark):
    """collapse_prov=True → one row per distinct triple (min prov);
    False → one row per (triple, provenance), full-row dedup — the
    north-rule lineage table shape."""
    cmap = spark.createDataFrame(
        [("e:a1", "e:a"), ("e:a2", "e:a")], "node string, canon string"
    )
    triples = spark.createDataFrame(
        [
            ("e:a1", "p:r", "e:o", None, "https://ex/1"),
            ("e:a2", "p:r", "e:o", None, "https://ex/2"),
            ("e:a2", "p:r", "e:o", None, "https://ex/2"),  # exact dup
        ],
        "subj string, pred string, obj string, obj_dt string, prov_url string",
    )
    compact = rewrite_triples(triples, cmap).collect()
    assert len(compact) == 1
    assert compact[0].subj == "e:a" and compact[0].prov_url == "https://ex/1"

    lineage_rows = {
        tuple(r) for r in rewrite_triples(triples, cmap, collapse_prov=False).collect()
    }
    assert lineage_rows == {
        ("e:a", "p:r", "e:o", None, "https://ex/1"),
        ("e:a", "p:r", "e:o", None, "https://ex/2"),
    }


def test_corpus_hub_frac_plants_mega_hub(spark):
    """hub_frac plants one entity as SUBJECT on ~that fraction of
    pages; the generator stays deterministic and ground-truth-exact."""
    c = C.make_corpus(n_pages=400, seed=42, hub_frac=0.3)
    c2 = C.make_corpus(n_pages=400, seed=42, hub_frac=0.3)
    assert c.pages == c2.pages  # deterministic
    # the hub is orgs[0]; find its surfaces via the truth map
    ents = C.make_entities(42, n_person=min(max(80, 400 // 50), 250000),
                           n_org=min(max(60, 400 // 80), 150000),
                           n_place=min(max(30, 400 // 250), 50000))
    hub = [e for e in ents if e.kind == "org"][0]
    hub_subj_pages = sum(
        1 for (_u, _t, _h, text, _l) in c.pages
        if any(text.startswith(v) or f"\n{v}" in "\n" + text for v in hub.variants)
    )
    assert 0.2 * 400 <= hub_subj_pages  # ~30% of pages lead with the hub


# ------------------------------------------------------------- no Python
def test_pipeline_plan_runs_no_python(spark, pages):
    """The executed plan of the canonical triples holds the extraction
    chain and no Python-evaluation node: no Python worker is started."""
    canonical = run_pipeline(pages, text_from_html=True)["canonical_triples"]
    canonical.collect()
    plan = canonical._jdf.queryExecution().executedPlan().toString()
    assert "<(head|script|style|nav|header|footer)" in plan  # the extraction chain
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node


def test_pipeline_null_html_page(spark, corpus):
    """A page with NULL html extracts to NULL text and yields no
    triples; the rest of the run is unaffected."""
    from pyspark.sql import types as T

    from kgforge.session import local_df

    null_url = "https://null.example.org/page"
    rows = corpus.pages + [(null_url, corpus.pages[0][1], None, "", "en")]
    schema = T.StructType(
        [T.StructField(n, t, True) for n, t in (
            ("url", T.StringType()), ("warc_ts", T.TimestampType()), ("html", T.BinaryType()),
            ("text", T.StringType()), ("lang", T.StringType()),
        )]
    )
    out = run_pipeline(local_df(spark, rows, schema).repartition(8), text_from_html=True)
    texts = out["pages_text"].filter(F.col("url") == null_url).collect()
    assert [r.text for r in texts] == [None]
    triples = out["canonical_triples"].collect()
    assert null_url not in {r.prov_url for r in triples}
    got = {(r.subj, r.pred, r.obj) for r in triples if r.obj_dt is None}
    want = C.true_canonical_triples(corpus)
    tp = len(got & want)
    assert tp / len(got) >= 0.95 and tp / len(want) >= 0.95


# ------------------------------------------------------------- LSH pairs
@pytest.mark.parametrize("prune", [0.0, 0.78])
def test_candidate_pairs_minhash_brute_force(spark, prune):
    """candidate_pairs_minhash equals a Python enumeration: pairs of
    surfaces sharing a band key (the band's tuple of minima) that pass
    the prune bounds (every pair passes at 0.0), under both oversize
    policies of a cap of 6: "drop" pairs members of buckets with 2..6
    members, "join" pairs every bucket, the 9-member family included.
    Only the hash primitive xxhash64(i, gram) comes from Spark."""
    import math
    import random

    from kgforge.web.linking import _NUM_HASHES, _ROWS_PER_BAND, candidate_pairs_minhash

    rng = random.Random(11)
    words = ["".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 7))) for _ in range(30)]
    surfaces = {f"{rng.choice(words)} {rng.choice(words)}" for _ in range(120)}
    # planted families: typo variants, and one 9-member family larger
    # than max_bucket that shares most grams
    for w in words[:10]:
        surfaces |= {f"{w} corp", f"{w} corp.", f"{w}s corp", f"The {w} Corp"}
    surfaces |= {f"kelvin station {i}" for i in range(9)}
    surfaces = sorted(surfaces)
    num_hashes, rows, max_bucket = _NUM_HASHES, _ROWS_PER_BAND, 6

    def grams(s):
        s = s.lower()
        return {s[i:i + 3] for i in range(max(len(s) - 2, 1))}

    all_grams = sorted(set().union(*map(grams, surfaces)))
    hashed = spark.createDataFrame([(g,) for g in all_grams], "g string").selectExpr(
        "g", *[f"xxhash64({i}, g) AS h{i}" for i in range(num_hashes)]
    )
    h = {r.g: [r[f"h{i}"] for i in range(num_hashes)] for r in hashed.collect()}

    buckets: dict = {}
    for s in surfaces:
        sig = [min(h[g][i] for g in grams(s)) for i in range(num_hashes)]
        for b in range(num_hashes // rows):
            buckets.setdefault((b, tuple(sig[b * rows:(b + 1) * rows])), []).append(s)

    def passes(a, b):
        na, nb = len(grams(a)), len(grams(b))
        la, lb = len(a), len(b)
        return (
            math.sqrt(min(na, nb) / max(na, nb)) >= prune
            or 1.0 - abs(la - lb) / max(la, lb) >= prune
        )

    def want(cap):
        return {
            (a, b)
            for mem in buckets.values()
            if 2 <= len(mem) <= cap
            for i, a in enumerate(sorted(mem))
            for b in sorted(mem)[i + 1:]
            if passes(a, b)
        }

    assert any(len(m) > max_bucket for m in buckets.values())  # the guard fires
    df = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    for profile, cap in (
        (ScaleProfile(max_bucket=max_bucket, oversize="drop"), max_bucket),
        (ScaleProfile(max_bucket=max_bucket), len(surfaces)),  # "join"
    ):
        got = candidate_pairs_minhash(df, prune_threshold=prune, profile=profile).select("a", "b").collect()
        assert len(got) == len({tuple(r) for r in got}), profile  # distinct
        assert {tuple(r) for r in got} == want(cap), profile
    assert want(max_bucket) and want(len(surfaces)) > want(max_bucket)  # non-vacuous


# ------------------------------------------------------------- linking route
@pytest.fixture(scope="module")
def family_pages(spark, corpus):
    """The fixture corpus (case-fold, typo and `Inc` variants) plus 80
    near-identical surfaces whose shared grams put them in LSH band
    buckets larger than GUARD.max_bucket."""
    ts = corpus.pages[0][1]
    extra = [
        (f"https://family.example.org/{i}", ts, b"",
         f"Kelvin Station Northfield {i:02d} is located in Norway.", "en")
        for i in range(80)
    ]
    return C.pages_dataframe(spark, dataclasses.replace(corpus, pages=corpus.pages + extra))


#: a dropping guard whose cap the 80-surface family's buckets exceed
GUARD = ScaleProfile(max_bucket=64, oversize="drop")


def _pipeline_sets(pages) -> dict:
    """Row sets of the linking outputs of one persisted run under GUARD."""
    from kgforge.web.pipeline import unpersist_intermediates

    out = run_pipeline(pages, text_from_html=False, persist_intermediate=True, profile=GUARD)
    got = {k: {tuple(r) for r in out[k].collect()}
           for k in ("same_as", "canonical_map", "canonical_triples")}
    got["local"] = "Coalesce 1" in out["same_as"]._jdf.queryExecution().sparkPlan().toString()
    unpersist_intermediates(out)
    return got


def test_pipeline_routes_give_identical_rows(spark, family_pages, monkeypatch):
    """The one-partition local route for a driver-sized surface table and
    the distributed route (bound forced to 0) give the same sameAs
    edges, canonical map and canonical triples, with the LSH bucket
    guard dropping the oversized family buckets on both."""
    from kgforge.profile import SAFE
    from kgforge.web import pipeline
    from kgforge.web.linking import candidate_pairs_minhash

    surfaces = surfaces_of(extract_mention_triples(family_pages))
    reps = surfaces.groupBy(F.lower("surface")).agg(F.min("surface").alias("surface"))
    capped = candidate_pairs_minhash(reps, prune_threshold=0.78, profile=GUARD).count()
    uncapped = candidate_pairs_minhash(reps, prune_threshold=0.78, profile=SAFE).count()
    assert uncapped > capped  # the guard fires on this fixture

    local = _pipeline_sets(family_pages)
    monkeypatch.setattr(pipeline, "LOCAL_SURFACES_MAX", 0)
    dist = _pipeline_sets(family_pages)
    assert local.pop("local") and not dist.pop("local")
    assert local == dist
    assert all(local.values())  # non-vacuous


def test_canonical_map_probe_jobs(spark, family_pages, count_jobs, monkeypatch):
    """Once the surfaces are probed, canonical_map's bounded probe runs
    linking, the IRI mapping and the CC fetch over the one-partition
    copy in 1 Spark job; the distributed route runs one per exchange."""
    from kgforge.web import canon

    counted = []
    cc = canon.connected_components

    def counting(*args, **kwargs):
        jobs, out = count_jobs(lambda: cc(*args, **kwargs))
        counted.append(jobs)
        return out

    monkeypatch.setattr(canon, "connected_components", counting)
    _pipeline_sets(family_pages)
    assert counted == [1], counted


def test_pipeline_leaves_no_cached_relation(spark, corpus):
    """After a persisted run and unpersist_intermediates, the session
    caches nothing: the local copy of the surfaces must not orphan the
    persisted table (a stale cache entry would be silently reused by
    the next run)."""
    from kgforge.web.pipeline import unpersist_intermediates

    spark.catalog.clearCache()  # start from an empty cache manager
    out = run_pipeline(C.pages_dataframe(spark, corpus), text_from_html=False,
                       persist_intermediate=True)
    out["canonical_triples"].write.format("noop").mode("overwrite").save()
    unpersist_intermediates(out)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
