"""The four workloads. Each builds its inputs from the seed in `setup`,
runs one op per `op` call and scores an op's output against its oracle
in `check`. `op` takes a tracer: the measured runs pass `NoTrace` and
call kgforge's front doors; a traced op calls the layers one by one so
each gets its own span, and `after` then reads the op's extra counters
outside its wall time (see WORKLOADS.md for why each workload exists).
"""

from __future__ import annotations

import csv
import os
import random
import time

from pyspark.sql import functions as F

from kgbench import oracles
from kgbench.trace import NoTrace

TRIPLE_FIELDS = ["subj", "pred", "obj", "obj_dt"]
LINK_THRESHOLD = 0.78  # run_pipeline's default link_threshold


def _data_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files of a bucketed table."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        if "_lineage" in root:
            continue
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def _table_digest(df):
    """Order-independent (rows, sum of row hashes) of a triple table."""
    h = F.xxhash64(*[F.coalesce(F.col(c), F.lit("\x00")) for c in TRIPLE_FIELDS])
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")).first()
    return int(row.n), int(row.h or 0)


class Workload:
    name = ""
    items_per_op = 1

    def __init__(self, spark, seed: int, size: dict, work: str):
        self.spark, self.seed, self.size, self.work = spark, seed, size, work
        self.rng = random.Random(seed)
        self.written: list[tuple[int, int]] = []  # (data bytes, rows) per write

    def out_path(self, i: int) -> str:
        """Where op `i` writes, if it writes (removed after its check)."""
        return os.path.join(self.work, f"{self.name}_out_{i}")

    def acceptable(self, correct: int, produced: int, expected: int) -> bool:
        """Whether an op's output counts as a right answer: exact by default."""
        return correct == produced == expected

    def after(self, out, tracer) -> None:
        """Extra counters of a traced op, read once its wall time is taken
        (called for traced ops only)."""

    def _written(self, path: str, rows: int, tracer) -> None:
        nbytes, files = _data_bytes(path)
        self.written.append((nbytes, rows))
        tracer.count("lineage.materialize.bytes_written_mb", nbytes / 1e6)
        tracer.count("lineage.materialize.files_written", files)
        tracer.count("lineage.bytes_per_triple", nbytes / rows if rows else 0.0)


# ---------------------------------------------------------------- web_build
class WebBuild(Workload):
    name = "web_build"

    def setup_inputs(self):
        """Write the multi-file pages table; return the same corpus in memory."""
        from kgforge.web.corpus import corpus_to_parquet, make_corpus

        n, hub = self.size["pages"], self.size["hub_frac"]
        self.items_per_op = n
        self.pages_path = os.path.join(self.work, "pages")
        corpus_to_parquet(self.pages_path, n, seed=self.seed, rows_per_file=self.size["rows_per_file"], hub_frac=hub)
        return make_corpus(n, seed=self.seed, hub_frac=hub)

    def setup(self) -> None:
        import pyarrow.parquet as pq

        corpus = self.setup_inputs()
        html = pq.read_table(self.pages_path, columns=["html"]).column("html").to_pylist()
        if html != [p[2] for p in corpus.pages]:
            raise RuntimeError("corpus_to_parquet pages differ from make_corpus pages")
        self.truth = oracles.web_truth(corpus)

    def op(self, i: int, tracer=NoTrace()):
        from kgforge.lineage import materialize_triples
        from kgforge.profile import SCALE
        from kgforge.web.pipeline import run_pipeline, unpersist_intermediates

        pages = self.spark.read.parquet(self.pages_path)
        path = self.out_path(i)
        if not tracer.enabled:
            res = run_pipeline(pages, text_from_html=True, persist_intermediate=True, profile=SCALE)
            m = materialize_triples(res["canonical_triples"], path, n_buckets=self.size["buckets"],
                                    salt_partitions=SCALE.salt_partitions)
            unpersist_intermediates(res)
        else:
            m = self._traced(pages, path, tracer)
        self._written(path, m["rows_written"], tracer)
        return path

    def _traced(self, pages, path, tracer):
        """run_pipeline's calls in its order, each output persisted and
        counted at the layer boundary (canonical_map fires an eager
        probe, so a bare run_pipeline would run every layer inside it)."""
        from kgforge.lineage import materialize_triples
        from kgforge.profile import SCALE
        from kgforge.web.canon import canonical_map, rewrite_triples
        from kgforge.web.extract import extract_text
        from kgforge.web.linking import link_surfaces
        from kgforge.web.mentions import extract_mention_triples
        from kgforge.web.pipeline import surfaces_of

        held = []

        def keep(df):
            held.append(df.persist())
            return held[-1]

        with tracer.span("web.extract", rows=lambda: text.count()):
            text = keep(extract_text(pages, "html", "text_extracted").select(
                "url", "warc_ts", F.col("text_extracted").alias("text"), "lang"))
        with tracer.span("web.mentions", rows=lambda: mentions.count()):
            mentions = keep(extract_mention_triples(text, text_col="text"))
        with tracer.span("web.linking", rows=lambda: edges.count()):
            surfaces = keep(surfaces_of(mentions))
            same_as = link_surfaces(surfaces.select("surface"), threshold=LINK_THRESHOLD, scorer="set", profile=SCALE)
            s1 = surfaces.select(F.col("surface").alias("a"), F.col("iri").alias("iri_a"))
            s2 = surfaces.select(F.col("surface").alias("b"), F.col("iri").alias("iri_b"))
            edges = keep(same_as.join(s1, "a").join(s2, "b").select(
                F.col("iri_a").alias("a"), F.col("iri_b").alias("b"), "score"))
        with tracer.span("web.canon", rows=lambda: canonical.count()):
            cmap = canonical_map(edges, surfaces.select(F.col("iri").alias("node")))
            canonical = keep(rewrite_triples(mentions, cmap))
        with tracer.span("lineage.materialize", rows=lambda: m["rows_written"]):
            m = materialize_triples(canonical, path, n_buckets=self.size["buckets"], salt_partitions=SCALE.salt_partitions)
        for df in held:
            if df is not surfaces:  # `after` still reads the surfaces
                df.unpersist()
        self.surfaces = surfaces
        return m

    def after(self, out, tracer) -> None:
        """Linking's similarity tier: candidate pairs scored, and the
        share of them kept as edges."""
        from kgforge.profile import SCALE
        from kgforge.web.linking import candidate_pairs_minhash, score_set_cosine

        reps = self.surfaces.groupBy(F.lower("surface")).agg(F.min("surface").alias("surface"))
        pairs = candidate_pairs_minhash(reps, "surface", prune_threshold=LINK_THRESHOLD, profile=SCALE)
        scored = pairs.count()
        kept = score_set_cosine(pairs).filter(F.col("score") >= LINK_THRESHOLD).count()
        tracer.count("web.linking.candidate_pairs", scored)
        tracer.count("web.linking.kept_ratio", kept / scored if scored else 0.0)
        self.surfaces.unpersist()

    def check(self, path):
        got = [tuple(r) for r in self.spark.read.parquet(path).select("subj", "pred", "obj").collect()]
        return oracles.score(got, self.truth)

    def acceptable(self, correct, produced, expected):
        # Linking is approximate by design. tests/test_web_pipeline.py
        # gates its fixture corpus at P and R >= 0.95, but on seeded
        # benchmark corpora linking leaves some entities split and
        # precision ranges 0.94-1.0 by seed at 1,000 pages, so an op
        # counts as wrong below 0.90; output_precision/output_recall
        # track the rest. At 10,000 pages a few seeds fall below 0.90
        # (see WORKLOADS.md).
        return correct >= 0.90 * produced and correct >= 0.90 * expected


# ---------------------------------------------------------------- csv_map
class CsvMap(Workload):
    name = "csv_map"

    def setup_inputs(self):
        """Write the sources, grammars and options INI; return the rows."""
        from tests import gen_fixtures as G

        src = os.path.join(self.work, "sources")
        os.makedirs(src, exist_ok=True)

        def write_csv(name, rows):
            with open(os.path.join(src, name), "w", newline="", encoding="utf-8") as f:
                csv.writer(f, delimiter=";").writerows(rows)

        def write_text(name, text):
            with open(os.path.join(src, name), "w", encoding="utf-8") as f:
                f.write(text)

        big = G.mipl_rows(n=self.size["rows"], seed=self.seed)
        v4 = G.mipl_rows(n=self.size["tiny_rows"], seed=self.seed + 1)
        v1 = G.v1_rows(n=self.size["tiny_rows"], seed=self.seed + 2)
        write_csv("mipl.csv", big)
        write_csv("mipl_v4.csv", v4)
        write_csv("parts_v1.csv", v1)
        write_csv("semantics_v1.csv", [[c, r] for c, r in G.V1_GRAMMAR])
        write_text("grammar_v5.ini", G.GRAMMAR_V5)
        write_text("grammar_v4.ini", G.GRAMMAR_V2)
        self.conf = os.path.join(src, "options.ini")
        write_text("options.ini", f"""[MIPL]
file = mipl.csv
domain = {G.MIPL_DOMAIN}
delimiter = ;
semantics = grammar_v5.ini
active = True

[MIPL_V4]
file = mipl_v4.csv
domain = {G.MIPL_DOMAIN}
delimiter = ;
semantics = grammar_v4.ini
active = True

[parts_v1.csv]
domain = {G.V1_DOMAIN}
delimiter = ;
semantics = semantics_v1.csv
""")
        return big, v4, v1

    def setup(self) -> None:
        from tests import gen_fixtures as G
        from tests import oracle

        big, v4, v1 = self.setup_inputs()
        truth = (
            oracle.v5(G.GRAMMAR_V5, big, G.MIPL_DOMAIN)
            | oracle.v234("v4", G.GRAMMAR_V2, v4, G.MIPL_DOMAIN)
            | oracle.v1_semantic(G.V1_GRAMMAR, v1, G.V1_DOMAIN)
        )
        from kgforge.session import local_df

        self.truth = truth
        self.items_per_op = len(big) + len(v4) + len(v1) - 3  # data rows, headers excluded
        schema = ", ".join(f"{c} string" for c in TRIPLE_FIELDS)
        self.truth_digest = _table_digest(local_df(self.spark, sorted(truth, key=str), schema))

    def op(self, i: int, tracer=NoTrace()):
        from kgforge.lineage import materialize_triples
        from kgforge.orchestrate import run_config

        path = self.out_path(i)
        if not tracer.enabled:
            m = materialize_triples(run_config(self.spark, self.conf, mode="shared")["__shared__"], path,
                                    n_buckets=self.size["buckets"])
        else:
            with tracer.span("orchestrate.run_config"):
                store = run_config(self.spark, self.conf, mode="shared")["__shared__"]
            with tracer.span("triples.emit", rows=lambda: store.count()):
                store = store.persist()
            with tracer.span("lineage.materialize", rows=lambda: m["rows_written"]):
                m = materialize_triples(store, path, n_buckets=self.size["buckets"])
            store.unpersist()
        self._written(path, m["rows_written"], tracer)
        return path

    def check(self, path):
        table = self.spark.read.parquet(path).select(*TRIPLE_FIELDS)
        if _table_digest(table) == self.truth_digest:
            n = len(self.truth)
            return n, n, n
        return oracles.score([tuple(r) for r in table.collect()], self.truth)


# ---------------------------------------------------------------- sparql_query
#: query class → weight in the mix. A percentile that falls on the
#: boundary between two classes of different cost jumps from run to run,
#: so each reported one falls inside a class: paths, by far the slowest,
#: are the top 3/13 and hold p90; joins, mid-cost, are 4/13 and hold
#: p50 even when a neighbouring class sorts to the other side of them.
MIX = {"point": 2, "join": 4, "optional": 1, "aggregate": 1, "path": 3, "ask": 1, "describe": 1}


class SparqlQuery(Workload):
    name = "sparql_query"

    def setup(self) -> None:
        """Build the web KG and the CSV KG with the web_build and
        csv_map ops, collect their union for the oracle, and draw the
        seeded query stream."""
        self.paths = []
        for kind, cls in (("web", WebBuild), ("csv", CsvMap)):
            wl = cls(self.spark, self.seed, self.size[kind], os.path.join(self.work, kind))
            wl.setup_inputs()
            self.paths.append(wl.op(0))
            self.written += wl.written
        rows = self._triples().collect()
        self.written = [(sum(b for b, _ in self.written), len(rows))]
        self.graph = oracles.Graph(tuple(r) for r in rows)
        self.queries = self._draw(self.size["queries"])

    def _triples(self):
        web, csv_ = (self.spark.read.parquet(p).select(*TRIPLE_FIELDS) for p in self.paths)
        return web.unionByName(csv_)

    def _draw(self, n: int) -> list[tuple[str, str, tuple]]:
        """n (class, query text, oracle args), drawn from the seed; the
        expected rows are `Graph.<class>(*args)`."""
        from kgforge.web.corpus import DOMAIN

        g, rng = self.graph, self.rng
        iri_triples = sorted(
            t for t in g.triples if oracles.iri_ok(t[0]) and oracles.iri_ok(t[1])
            and (t[3] is not None or oracles.iri_ok(t[2]))
        )
        iri_objs = [t for t in iri_triples if t[3] is None]
        works, located, partner = DOMAIN + "works_for", DOMAIN + "located_in", DOMAIN + "partner_of"
        places = sorted({o for (p, o) in g.po if p == located})
        orgs = sorted({o for (p, o) in g.po if p == works})
        # path starts whose partner_of closure is exactly two hops deep
        # (or the deepest there is), so the path class has one cost
        depth = {x: g.depth(x, partner) for x in sorted({t[0] for t in g.by_p[partner]})}
        want_depth = min(2, max(depth.values()))
        path_starts = [x for x, d in depth.items() if d == want_depth]
        preds = sorted(p for p in g.by_p if oracles.iri_ok(p))
        # classes come in shuffled blocks holding each class MIX[c] times,
        # so every stretch of the stream keeps the mix's proportions
        block = [c for c in sorted(MIX) for _ in range(MIX[c])]
        out = []
        while len(out) < n:
            rng.shuffle(block)
            out.extend(block)
        for k, cls in enumerate(out[:n]):
            if cls == "point":
                s, p, _o, _dt = rng.choice(iri_triples)
                q, args = f"SELECT ?o WHERE {{ <{s}> <{p}> ?o }}", (s, p)
            elif cls == "join":
                c = rng.choice(places)
                q = f"SELECT ?x ?y WHERE {{ ?x <{works}> ?y . ?y <{located}> <{c}> }}"
                args = (works, located, c)
            elif cls == "optional":
                c = rng.choice(orgs)
                q = (f"SELECT ?x ?l WHERE {{ ?x <{works}> <{c}> . "
                     f"OPTIONAL {{ ?x <{oracles.RDFS_LABEL}> ?l }} }}")
                args = (works, c, oracles.RDFS_LABEL)
            elif cls == "aggregate":
                p = rng.choice(preds)
                q, args = f"SELECT ?o (COUNT(?s) AS ?n) WHERE {{ ?s <{p}> ?o }} GROUP BY ?o", (p,)
            elif cls == "path":
                s = rng.choice(path_starts)
                q, args = f"SELECT ?y WHERE {{ <{s}> <{partner}>+ ?y }}", (s, partner)
            elif cls == "ask":
                s, p, o, _dt = rng.choice(iri_objs)
                if rng.random() < 0.5:
                    o = rng.choice(iri_objs)[2]
                q, args = f"ASK {{ <{s}> <{p}> <{o}> }}", (s, p, o)
            else:
                s = rng.choice(iri_triples)[0]
                q, args = f"DESCRIBE <{s}>", (s,)
            out[k] = (cls, q, args)
        return out[:n]

    def op(self, i: int, tracer=NoTrace()):
        from kgforge.sparql import sparql

        cls, q, _want = self.queries[i % len(self.queries)]
        t0 = time.perf_counter()
        with tracer.span("sparql.build"):
            df = sparql(self._triples(), q)
        with tracer.span("sparql.exec", rows=lambda: len(rows)):
            rows = df.collect()
        tracer.count(f"sparql.{cls}.p50_ms", (time.perf_counter() - t0) * 1e3)
        return i, rows

    def check(self, out):
        i, rows = out
        cls, _q, args = self.queries[i % len(self.queries)]
        want = getattr(self.graph, cls)(*args)
        norm = str if cls == "aggregate" else (lambda v: v)
        got = [tuple(v if v is None else norm(v) for v in r) for r in rows]
        return oracles.score(got, [tuple(w) for w in want])


# ---------------------------------------------------------------- doc_dedup
def make_docs(n: int, seed: int, vocab: int = 600) -> tuple[list[tuple[int, str]], set]:
    """n base documents, plus an exact clone of every 4th and a
    one-word edit of every 4th (offset by 2). Returns (docs, planted
    near-duplicate pairs)."""
    rng = random.Random(seed)
    words = [f"w{rng.randrange(10**6):06d}" for _ in range(vocab)]
    docs, planted = [], set()
    for i in range(n):
        docs.append((i, " ".join(rng.choice(words) for _ in range(rng.randint(25, 45)))))
    for i in range(0, n, 4):
        docs.append((n + i, docs[i][1]))
        planted.add((i, n + i))
    for i in range(2, n, 4):
        toks = docs[i][1].split(" ")
        toks[rng.randrange(len(toks))] = rng.choice(words)
        docs.append((2 * n + i, " ".join(toks)))
        planted.add((i, 2 * n + i))
    return docs, planted


class DocDedup(Workload):
    name = "doc_dedup"

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs, self.planted = make_docs(self.size["docs"], self.seed)
        self.items_per_op = len(docs)
        self.docs_path = os.path.join(self.work, "docs")
        os.makedirs(self.docs_path)
        ids, texts = zip(*docs)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
                       os.path.join(self.docs_path, "part-0.parquet"))
        self.truth = {
            "minhash": oracles.minhash_pairs(docs),
            "simhash": oracles.simhash_pairs(docs),
            "ngram": oracles.ngram_pairs(docs),
        }

    def op(self, i: int, tracer=NoTrace()):
        from kgforge.profile import SAFE
        from kgforge.textops.dedup import minhash_lsh_candidates, ngram_jaccard_pairs, simhash_near_dups

        df = self.spark.read.parquet(self.docs_path)
        out = {}
        with tracer.span("textops.minhash", rows=lambda: len(out["minhash"])):
            out["minhash"] = {(r.a, r.b) for r in minhash_lsh_candidates(df, profile=SAFE).collect()}
        with tracer.span("textops.simhash", rows=lambda: len(out["simhash"])):
            out["simhash"] = {(r.a, r.b) for r in simhash_near_dups(df, profile=SAFE).collect()}
        with tracer.span("textops.ngram", rows=lambda: len(out["ngram"])):
            out["ngram"] = {(r.a, r.b, round(r.jaccard, 9)) for r in ngram_jaccard_pairs(df, profile=SAFE).collect()}
        return out

    def after(self, out, tracer) -> None:
        for k, pairs in out.items():
            useful = sum(1 for p in pairs if p[:2] in self.planted)
            tracer.count(f"textops.{k}.candidates", len(pairs))
            tracer.count(f"textops.{k}.useful_ratio", useful / len(pairs) if pairs else 0.0)

    def check(self, out):
        parts = [oracles.score(out[k], self.truth[k]) for k in self.truth]
        return tuple(sum(p[j] for p in parts) for j in range(3))


WORKLOADS = {w.name: w for w in (WebBuild, CsvMap, SparqlQuery, DocDedup)}
