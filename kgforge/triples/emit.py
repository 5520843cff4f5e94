"""Lower a MappingSpec into one columnar Spark plan.

The whole reference dataflow (row loop → per-cell rule dispatch →
Graph.add) becomes:

    df.select( concat(arrays of triple structs per rule) )
      .explode → (subj, pred, obj, obj_dt [, prov...])
      .dropDuplicates(["subj","pred","obj","obj_dt"])

Everything below is built from `pyspark.sql.functions` only — the plan
stays inside whole-stage codegen end to end; there are NO Python UDFs.
Python slice semantics (reference `extract(a:b)`,
csv2rdf-v2.py:345-350) are reproduced exactly with length arithmetic,
and `map(...)` lookups become literal `create_map` index lookups
(the reference's lookup lists are tiny grammar-embedded dicts —
a broadcast join would be strictly worse than a constant map).

Scale notes (100 TB):
* one narrow pass over the source + one shuffle (dedup). The dedup is a
  partial-aggregate (map-side combine) so the massive logical
  duplication the reference relies on rdflib sets to absorb (schema
  triples re-added per cell — csv2rdf-v3.py:397-398) collapses *before*
  the exchange.
* column pruning is explicit: we select only `spec.columns_used`, so
  the parquet reader materializes exactly the mapped columns.
* dedup keys are hashed by Spark's HashAggregate — no skew issue on
  subj alone since the key is the whole triple.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.mapping.spec import (
    SANITIZE_CHARSETS,
    MappingSpec,
    Rule,
    Term,
    Transform,
)

TRIPLE_FIELDS = ["subj", "pred", "obj", "obj_dt"]

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_dt", T.StringType(), True),
    ]
)


def sanitize_expr(col: Column, charset_name: str) -> Column:
    """T1 URI sanitizer as a single JVM `translate` (SURVEY.md §2.3)."""
    charset = SANITIZE_CHARSETS[charset_name]
    return F.translate(col, charset, "_" * len(charset))


def py_slice_expr(col: Column, lo: int, hi: int) -> Column:
    """Python `s[lo:hi]` with integer bounds, as Catalyst expressions.

    Handles negative bounds and clamping exactly like CPython, which SQL
    `substring` (1-based, sign-magic) does not. Constant-folded bounds
    keep this inside codegen.
    """
    length = F.length(col)
    zero = F.lit(0)

    def norm(b: int) -> Column:
        if b < 0:
            return F.greatest(length + F.lit(b), zero)
        return F.least(F.lit(b), length)

    start = norm(lo)
    end = norm(hi)
    n = F.greatest(end - start, zero)
    return col.substr(start + F.lit(1), n)


def lookup_expr(col: Column, table: dict[str, str]) -> Column:
    """Literal map lookup (returns NULL on miss). Keys are already
    configparser-lowercased in the grammar; probe with lower(col)."""
    if not table:
        return F.lit(None).cast("string")
    pairs: list[Column] = []
    for k, v in table.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    return F.create_map(*pairs)[F.lower(col)]


def transform_expr(cell: Column, tr: Transform) -> Column:
    """newcell = transform(cell); mirrors spec.apply_transform_py."""
    if tr.kind == "none":
        return cell
    if tr.kind == "extract":
        return py_slice_expr(cell, tr.lo, tr.hi)
    if tr.kind == "prefix":
        return F.concat(F.lit(tr.affix), cell)
    if tr.kind == "suffix":
        return F.concat(cell, F.lit(tr.affix))
    table = tr.mapping()
    if tr.kind == "map_all":
        hit = lookup_expr(cell, table)
        if tr.miss == "keep":
            return F.coalesce(hit, cell)
        if tr.miss == "keep_or_strange":
            fallback = F.when(F.trim(cell) != "", cell).otherwise(F.lit("STRANGE"))
            return F.coalesce(hit, fallback)
        # strict (v2/v3): leave NULL on miss; assert_no_map_miss catches it
        return hit
    if tr.kind == "map_part":
        key = F.lower(py_slice_expr(cell, tr.lo, tr.hi))
        hit = lookup_expr(key, table)
        if tr.miss == "keep":
            return F.coalesce(hit, cell)
        if tr.miss == "keep_slice_or_strange":
            fallback = F.when(F.trim(key) != "", key).otherwise(F.lit("STRANGE"))
            return F.coalesce(hit, fallback)
        return hit
    raise ValueError(f"unknown transform kind {tr.kind!r}")


def miss_expr(cell: Column, tr: Transform) -> Column | None:
    """Boolean 'this cell misses the lookup' for strict profiles."""
    if tr.kind == "map_all":
        return lookup_expr(cell, tr.mapping()).isNull()
    if tr.kind == "map_part":
        key = F.lower(py_slice_expr(cell, tr.lo, tr.hi))
        return lookup_expr(key, tr.mapping()).isNull()
    return None


def _source_expr(
    term: Term,
    raw: Column | None,
    new: Column | None,
    pkey: Column | None,
    token: Column | None,
) -> Column:
    if term.source == "raw":
        assert raw is not None
        return raw
    if term.source == "new":
        assert new is not None
        return new
    if term.source == "pkey":
        assert pkey is not None
        return pkey
    if term.source == "token":
        assert token is not None
        return token
    raise ValueError(f"term kind {term.kind!r} needs no source")


def term_expr(
    term: Term,
    *,
    raw: Column | None = None,
    new: Column | None = None,
    pkey: Column | None = None,
    token: Column | None = None,
    rowindex: Column | None = None,
) -> tuple[Column, Column]:
    """Return (value, obj_dt) Column pair for one Term template."""
    null_dt = F.lit(None).cast("string")
    if term.kind == "const_iri":
        return F.lit(term.value), null_dt
    if term.kind == "const_lit":
        return F.lit(term.value), F.lit(term.dt if term.dt is not None else "")
    if term.kind == "rowindex_iri":
        assert rowindex is not None
        return F.concat(F.lit(term.value), rowindex.cast("string")), null_dt
    src = _source_expr(term, raw, new, pkey, token)
    if term.kind == "iri":
        if term.sanitize is not None:
            src = sanitize_expr(src, term.sanitize)
        return F.concat(F.lit(term.value), src), null_dt
    if term.kind == "lit":
        if term.sanitize is not None:
            src = sanitize_expr(src, term.sanitize)
        return src, F.lit(term.dt if term.dt is not None else "")
    raise ValueError(f"unknown term kind {term.kind!r}")


def guard_expr(rule: Rule, cell: Column | None) -> Column:
    if rule.guard == "always":
        return F.lit(True)
    assert cell is not None, f"rule {rule.rule_id} guard needs a column"
    if rule.guard == "nonblank":
        return cell != ""
    if rule.guard == "nonblank_strip":
        return F.trim(cell) != ""
    if rule.guard == "forget":
        return ~cell.isin("NONE", "-", "")
    raise ValueError(f"unknown guard {rule.guard!r}")


def _triple_struct(s: Column, p: Column, o: Column, dt: Column) -> Column:
    return F.struct(
        s.alias("subj"), p.alias("pred"), o.alias("obj"), dt.alias("obj_dt")
    )


_TAGGED_SCHEMA = T.StructType(
    [
        T.StructField("tidx", T.IntegerType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
    ]
)


def _template_pred_dt(p_t: Term, o_t: Term) -> tuple[str, str | None] | None:
    """(pred value, obj_dt value) when BOTH are per-template constants,
    else None. obj_dt is a constant for every term kind (term_expr
    returns a literal dt in all branches); pred is constant exactly for
    const kinds."""
    if p_t.kind not in ("const_iri", "const_lit"):
        return None
    if o_t.kind in ("const_iri", "iri", "rowindex_iri"):
        dt: str | None = None
    else:  # const_lit / lit
        dt = o_t.dt if o_t.dt is not None else ""
    return p_t.value, dt


def constant_template_terms(spec: MappingSpec) -> list[tuple[str, str | None]] | None:
    """Per-template (pred, obj_dt) constants, in global template order,
    when the spec qualifies for the tagged-dedup narrowing: every
    template's pred AND obj_dt are constants, and the (pred, obj_dt)
    pairs are pairwise DISTINCT — then an output triple determines its
    template, so dedup on (template, subj, obj) is dedup on the triple.
    None when any template disqualifies (the wide path is used)."""
    out: list[tuple[str, str | None]] = []
    for rule in spec.rules:
        for _, p_t, o_t in rule.templates:
            pd = _template_pred_dt(p_t, o_t)
            if pd is None:
                return None
            out.append(pd)
    if len(set(out)) != len(out):
        return None
    return out


def _rule_cells(
    rule: Rule, cols: dict[str, Column]
) -> tuple[Column | None, Column | None, Column]:
    """(raw, new, guard) for one rule: the NULL-coalesced, pre-sanitized
    cell, its transform, and the rule's guard. Under a strict profile
    (v2/v3) `new` halts on a lookup miss (csv2rdf-v2.py:330-332) IN-PLAN:
    a fired rule whose lookup missed fails the job instead of silently
    emitting NULL terms. Guard-false rows never evaluate that branch, so
    blank/FORGET cells cannot trip it."""
    raw: Column | None = None
    new: Column | None = None
    if rule.column is not None:
        raw = F.coalesce(cols[rule.column], F.lit(""))
        if rule.pre_sanitize is not None:
            raw = sanitize_expr(raw, rule.pre_sanitize)
        new = transform_expr(raw, rule.transform)
    guard = guard_expr(rule, raw)
    m = miss_expr(raw, rule.transform) if rule.transform.miss == "error" else None
    if m is not None:
        msg = F.lit(f"map lookup miss (strict policy, rule {rule.rule_id}): ")
        new = F.when(guard & m, F.raise_error(F.concat(msg, raw))).otherwise(new)
    return raw, new, guard


def _rule_array(rule: Rule, cols: dict[str, Column], base: int | None = None) -> Column:
    """One rule's triples as an array of structs: the wide
    `struct<subj,pred,obj,obj_dt>` when `base` is None, else the narrow
    `struct<tidx,subj,obj>` used when every template's pred/obj_dt are
    constants (constant_template_terms) — the constants are NOT
    evaluated per row; `tidx` (= base + template offset, global template
    order) stands in for them until after the dedup exchange.

    Empty array when the guard fails; per-token arrays are flattened for
    split rules (v1 subject2, csv2rdf.py:254-266).
    """
    raw, new, guard = _rule_cells(rule, cols)
    terms = {
        "raw": raw,
        "new": new,
        "pkey": cols.get("__pkey__"),
        "rowindex": cols.get("__rowindex__"),
    }

    def structs(token: Column | None) -> Column:
        out = []
        for off, (s_t, p_t, o_t) in enumerate(rule.templates):
            sv, _ = term_expr(s_t, token=token, **terms)
            ov, dt = term_expr(o_t, token=token, **terms)
            if base is None:
                pv, _ = term_expr(p_t, token=token, **terms)
                out.append(_triple_struct(sv, pv, ov, dt))
            else:
                out.append(
                    F.struct(
                        F.lit(base + off).alias("tidx"), sv.alias("subj"), ov.alias("obj")
                    )
                )
        return F.array(*out)

    if rule.split_tokens:
        assert raw is not None
        arr = F.flatten(F.transform(F.split(raw, " "), structs))
    else:
        arr = structs(None)
    schema = TRIPLE_SCHEMA if base is None else _TAGGED_SCHEMA
    return F.when(guard, arr).otherwise(F.array().cast(T.ArrayType(schema)))


def scan_bytes(df: DataFrame) -> tuple[int, int] | None:
    """(input bytes, split bytes) of `df`'s file scans: the summed
    `sizeInBytes` statistic of the optimized plan's file-relation
    leaves — the file index already holds it (any scheme), so nothing
    is listed or stat()ed here — and `spark.sql.files.maxPartitionBytes`
    through Spark's own size parser (it accepts every form the conf
    does: '134217728', '128m', '128MB', '1g', '64kb', '1t'). None when
    the plan reads no files or anything in the probe fails."""
    spark = df.sparkSession
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        files = [
            leaf
            for leaf in (leaves.apply(i) for i in range(leaves.size()))
            if leaf.nodeName() == "LogicalRelation"
            and leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
        ]
        if not files:
            return None
        total = sum(int(str(leaf.stats().sizeInBytes())) for leaf in files)
        split = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
    except Exception:
        return None
    return total, int(split)


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the source scan cannot fill the
    session's parallelism even at ideal split sizing.

    A single-row-group parquet file (or an unsplittable multiLine CSV)
    reads on 1-2 tasks no matter what `maxPartitionBytes` says, and the
    per-row triple-build work (sanitize regexes, template concats,
    map-side dedup) then serializes behind it — measured 1.5 s on 2
    tasks for a 200k-row melt at the sf1.0 bench, 0.2 s spread.
    The guard is byte-based and scale-adaptive (`scan_bytes`): when
    total input size >= shuffle_partitions x maxPartitionBytes the
    scan parallelizes naturally and the extra exchange would shuffle a
    large table for nothing, so it is skipped — a cluster-scale input
    never pays. Non-file sources pass through untouched, and so does
    `df` when anything in the probe fails."""
    sized = scan_bytes(df)
    if sized is None:
        return df
    total, split = sized
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if total >= n_part * split:
        return df
    return df.repartition(n_part)


def emit_triples(
    df: DataFrame,
    spec: MappingSpec,
    prov_cols: list[str] | None = None,
    dedup: bool = True,
) -> DataFrame:
    """MappingSpec ⨯ source DataFrame → triple DataFrame.

    One narrow pass (select + explode), then one shuffle (dedup).
    `prov_cols` are carried through (e.g. url, warc_ts); provenance is
    resolved arbitrarily per distinct triple via first() when dedup is
    on (the reference keeps no provenance at all — rdflib set).
    """
    spec.validate_against(df.columns)
    df = _spread_small_scan(df)
    prov_cols = prov_cols or []

    cols: dict[str, Column] = {c: F.col(c) for c in spec.columns_used}
    if spec.pkey_column is not None:
        pkey = F.coalesce(F.col(spec.pkey_column), F.lit(""))
        # v2..v4 sanitize the pkey at the parser level (csv2rdf-v2.py:516)
        pre = next(
            (r.pre_sanitize for r in spec.rules if r.pre_sanitize is not None), None
        )
        if pre is not None:
            pkey = sanitize_expr(pkey, pre)
        cols["__pkey__"] = pkey
    if spec.needs_rowindex:
        if "__rowindex__" not in df.columns:
            raise ValueError(
                "spec.needs_rowindex: source df must carry __rowindex__ "
                "(use kgforge.io.read.read_csv_with_rowindex)"
            )
        cols["__rowindex__"] = F.col("__rowindex__")

    consts = constant_template_terms(spec) if dedup and not prov_cols else None
    if consts is not None:
        # Tagged narrow dedup (round-7, guide §2.3 "project before the
        # exchange"): every template's pred/obj_dt are constants with
        # pairwise-distinct (pred, obj_dt), so an output triple
        # determines its template and dropDuplicates(tidx, subj, obj)
        # ≡ dropDuplicates(subj, pred, obj, obj_dt). The dedup exchange
        # carries an int tag instead of the (long, constant) pred IRI +
        # datatype strings, which are attached after the shuffle.
        arrays = []
        base = 0
        for rule in spec.rules:
            arrays.append(_rule_array(rule, cols, base))
            base += len(rule.templates)
        all_tagged = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
        narrow = (
            df.select(F.explode(all_tagged).alias("t"))
            .select("t.tidx", "t.subj", "t.obj")
            .dropDuplicates(["tidx", "subj", "obj"])
        )
        null_dt = F.lit(None).cast("string")
        pred_expr: Column = F.lit(consts[-1][0])
        dt_expr: Column = F.lit(consts[-1][1]) if consts[-1][1] is not None else null_dt
        for i in range(len(consts) - 2, -1, -1):
            p, dtv = consts[i]
            dv = F.lit(dtv) if dtv is not None else null_dt
            pred_expr = F.when(F.col("tidx") == i, F.lit(p)).otherwise(pred_expr)
            dt_expr = F.when(F.col("tidx") == i, dv).otherwise(dt_expr)
        return narrow.select(
            "subj", pred_expr.alias("pred"), "obj", dt_expr.alias("obj_dt")
        )

    arrays = [_rule_array(rule, cols) for rule in spec.rules]
    all_triples = F.concat(*arrays) if len(arrays) > 1 else arrays[0]

    keep = [F.col(c) for c in prov_cols]
    exploded = df.select(F.explode(all_triples).alias("t"), *keep)
    out = exploded.select(
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        F.col("t.obj_dt").alias("obj_dt"),
        *[F.col(c) for c in prov_cols],
    )
    if dedup:
        if prov_cols:
            aggs = [F.first(c).alias(c) for c in prov_cols]
            out = out.groupBy(*TRIPLE_FIELDS).agg(*aggs)
        else:
            out = out.dropDuplicates(TRIPLE_FIELDS)
    return out


def assert_no_map_miss(df: DataFrame, spec: MappingSpec) -> None:
    """Strict profiles (v2/v3): reproduce the reference's halt-on-miss
    (csv2rdf-v2.py:330-332) as a plan-time batch check instead of an
    interactive interrupt. Raises LookupError with per-rule counts."""
    checks = []
    for rule in spec.rules:
        if rule.column is None or rule.transform.kind not in ("map_all", "map_part"):
            continue
        cell, _, fired = _rule_cells(rule, {rule.column: F.col(rule.column)})
        m = miss_expr(cell, rule.transform)
        checks.append(F.sum(F.when(fired & m, 1).otherwise(0)).alias(rule.rule_id))
    if not checks:
        return
    row = df.select(*checks).collect()[0]
    misses = {k: v for k, v in row.asDict().items() if v}
    if misses:
        raise LookupError(f"map lookup misses under strict policy: {misses}")
