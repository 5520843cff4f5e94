"""CLI entry: `python -m kgforge -c conf.ini` (reference front door).

Mirrors the reference's invocation (csv2rdf-v5.py:526-551, getopt
`-c/--conf`): read the options INI, run every active source, dump one
Turtle file per source plus the global ontology-requirements file.

Extensions over the reference CLI (documented, all optional):
  --mode shared        v1 shared-store accumulation (one deduped dump,
                       csv2rdf.py:275-290) instead of per-source files
  --format             turtle (default) | ntriples | parquet (the
                       bucketed triple-table layout, kgforge.io.write;
                       its bucket count is sized from the input)
  --out DIR            output directory (default: cwd)
  --master URL         Spark master (default: local[$SPARK_GRAFT_CPUS])
  --sparql FILE --triples PATH
                       query mode instead of conversion: run a SPARQL
                       file (kgforge.sparql subset — the reference's
                       jena/requests.sparql queries) against a
                       materialized triple table; SELECT prints TSV to
                       stdout, CONSTRUCT/INSERT prints N-Triples. This
                       replaces the reference's manual Jena-endpoint
                       step (csv2rdf-v4/jena/).
"""

from __future__ import annotations

import argparse
import os
import sys

ONTO_REQ = "to-define-in-ontology.txt"


def _tsv_escape(v) -> str:
    """One TSV cell: web-extracted literals can contain tabs/newlines,
    which would corrupt the row structure — escape them (and the
    escape character itself) C-style, the SPARQL-TSV convention."""
    if v is None:
        return ""
    return (
        str(v)
        .replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def _n_buckets(triples) -> int:
    """Bucket count of a `--format parquet` table, sized from its input:
    one bucket per `spark.sql.files.maxPartitionBytes` of scanned
    bytes (`kgforge.triples.emit.scan_bytes`), clamped to [1, 64], so
    a small CSV is not spread over one tiny file per subject bucket.
    64, the write's default, when the plan reads no files."""
    from kgforge.triples.emit import scan_bytes

    sized = scan_bytes(triples)
    if sized is None:
        return 64
    total, split = sized
    return max(1, min(64, -(-total // split)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="kgforge", description="Declarative CSV/web → RDF triple engine"
    )
    ap.add_argument("-c", "--conf", help="options .ini file")
    ap.add_argument("--mode", choices=("per_source", "shared"), default="per_source")
    ap.add_argument(
        "--format", choices=("turtle", "ntriples", "parquet"), default="turtle"
    )
    ap.add_argument("--out", default=".", help="output directory")
    ap.add_argument("--master", default=None)
    ap.add_argument("--sparql", help="SPARQL query file (query mode)")
    ap.add_argument("--triples", help="triple-table parquet path (query mode)")
    ap.add_argument(
        "--rdfs",
        action="store_true",
        help="apply the materialized RDFS closure before querying "
        "(the reference's Jena-reasoner semantics, kgforge.rdfs)",
    )
    args = ap.parse_args(argv)
    if args.sparql:
        if not args.triples:
            ap.error("--sparql requires --triples")
    elif not args.conf:
        ap.error("one of -c/--conf (convert) or --sparql (query) is required")

    from kgforge.io.fs import collapse_to_file
    from kgforge.io.write import (
        dump_ntriples,
        dump_turtle,
        to_ntriples_lines,
        write_triples,
    )
    from kgforge.orchestrate import run_config
    from kgforge.session import get_spark

    spark = get_spark(app_name="kgforge-cli", master=args.master)

    if args.sparql:
        from kgforge.sparql import parse, sparql
        from kgforge.triples.emit import TRIPLE_FIELDS

        with open(args.sparql, encoding="utf-8") as f:
            qtext = f.read()
        triples = spark.read.parquet(args.triples).select(*TRIPLE_FIELDS)
        if args.rdfs:
            from kgforge.rdfs import rdfs_closure

            triples = rdfs_closure(triples)
        form = parse(qtext).form  # route on the query form, not on
        result = sparql(triples, qtext)  # accidental column names
        if form in ("construct", "describe"):  # graph forms -> N-Triples
            for r in to_ntriples_lines(result).sort("line").toLocalIterator():
                print(r.line)
        else:  # SELECT -> TSV, streamed partition-at-a-time (a BGP
            print("\t".join(result.columns))  # dump can be table-sized)
            for r in result.toLocalIterator():
                print("\t".join(_tsv_escape(v) for v in r))
        return 0
    os.makedirs(args.out, exist_ok=True)
    results = run_config(spark, args.conf, mode=args.mode)

    onto = results.pop("__ontology__", None)
    for name, triples in results.items():
        base = "shared" if name == "__shared__" else name
        if args.format == "parquet":
            write_triples(
                triples, os.path.join(args.out, base + ".triples"), _n_buckets(triples)
            )
            print(f"wrote {os.path.join(args.out, base + '.triples')}/")
            continue
        tmp = os.path.join(args.out, f".{base}._tmp")
        if args.format == "turtle":
            dump_turtle(triples, tmp)
            dest = os.path.join(args.out, base + ".ttl")
        else:
            dump_ntriples(triples, tmp)
            dest = os.path.join(args.out, base + ".nt")
        collapse_to_file(spark, tmp, dest)
        print(f"wrote {dest}")

    if onto is not None:
        # reference dump_define (csv2rdf-v5.py:73-87): one global file,
        # order-preserving distinct requirement strings
        reqs = [r.requirement for r in onto.collect()]
        dest = os.path.join(args.out, ONTO_REQ)
        with open(dest, "w", encoding="utf-8") as f:
            f.write("\n".join(reqs) + ("\n" if reqs else ""))
        print(f"wrote {dest}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
