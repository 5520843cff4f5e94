"""MappingSpec — the compiled, driver-side IR of a column→RDF mapping.

This is the engine's "logical plan" for triple generation. Grammar
compilers (`compile_v1`, `compile_ini`) lower the reference's mapping
languages into this IR; `kgforge.triples.emit` lowers the IR into one
columnar Spark plan (array<struct> → explode). The IR is tiny and
serializable, so it rides to executors inside closure capture (no
broadcast needed below ~MBs; lists are inlined as literal maps).

Reference semantics surveyed in SURVEY.md §2 (orey/csv2rdf); the five
version "profiles" differ in sanitizer charset, transform quirks, and
emission sets — all captured here as data, not code branches.

RDF terms are plain strings. A triple is (subj, pred, obj, obj_dt):
  obj_dt NULL  -> obj is an IRI
  obj_dt ''    -> obj is a plain literal
  obj_dt <iri> -> obj is a typed literal (raw lexical form kept,
                  mirroring reference v5 which never validates/casts;
                  see /root/reference/csv2rdf-v5/csv2rdf-v5.py:336-338)
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- well-known vocabulary -------------------------------------------------
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"

RDF_TYPE = RDF_NS + "type"
RDF_PROPERTY = RDF_NS + "Property"
RDFS_CLASS = RDFS_NS + "Class"
RDFS_LABEL = RDFS_NS + "label"
RDFS_COMMENT = RDFS_NS + "comment"
RDFS_DOMAIN = RDFS_NS + "domain"
RDFS_RANGE = RDFS_NS + "range"
RDFS_SUBCLASSOF = RDFS_NS + "subClassOf"
RDFS_SUBPROPERTYOF = RDFS_NS + "subPropertyOf"
RDFS_RESOURCE = RDFS_NS + "Resource"
RDFS_LITERAL = RDFS_NS + "Literal"

#: the schema predicates: triples with these predicates form the
#: grammar-sized schema that RDFS closure reads and SPARQL broadcasts
SCHEMA_PREDS = (RDFS_SUBCLASSOF, RDFS_SUBPROPERTYOF, RDFS_DOMAIN, RDFS_RANGE)

XSD_TYPES = {
    "string": XSD_NS + "string",
    "integer": XSD_NS + "integer",
    "float": XSD_NS + "float",
    "date": XSD_NS + "date",
}

# --- per-version URI sanitizer charsets (T1, SURVEY.md §2.3) ---------------
# replace each char with '_':
SANITIZE_CHARSETS: dict[str, str] = {
    "v1": " -",
    "v2": " -/(),\"'",  # v3 identical
    "v4": " -/\\(),\"'<>|{}^",
    "v5": " -/\\(),\"'<>|{}^#$*.`+=%",
}


@dataclass(frozen=True)
class Transform:
    """Cell-value alteration (reference `map/extract/prefix` commands).

    kind:
      none     -> newcell = cell
      map_all  -> lookup cell.lower() in table
      map_part -> lookup cell[lo:hi].lower() in table
      extract  -> cell[lo:hi]   (Python slice semantics, incl. the
                  documented `extract(-3:)` == cell[-3:0] == '' quirk:
                  empty bound parses to 0, not None)
      prefix   -> affix + cell  (v2..v4)   [v5 reverses: cell + affix]
      suffix   -> cell + affix  (v5 `prefix()` actual behavior)

    miss (map lookup miss policy, per reference version):
      error       -> v2/v3 interactive halt => plan-time/"strict" error
      keep        -> v5: keep the whole (input) cell value
      keep_or_strange       -> v4 map_all: cell if non-blank else 'STRANGE'
      keep_slice_or_strange -> v4 map_part: slice if non-blank else 'STRANGE'
    """

    kind: str = "none"
    table: tuple[tuple[str, str], ...] = ()
    lo: int = 0
    hi: int = 0
    affix: str = ""
    miss: str = "keep"

    def mapping(self) -> dict[str, str]:
        return dict(self.table)


@dataclass(frozen=True)
class Term:
    """One RDF-term template inside a triple template.

    kind:
      const_iri    -> fixed IRI: `value`
      const_lit    -> fixed literal: `value` (dt applies)
      iri          -> IRI `value` + sanitize(source-string)
      lit          -> literal = source-string as-is (dt applies)
      rowindex_iri -> IRI `value` + str(row_index)  (v1 default mode)

    source (which string feeds iri/lit):
      raw   -> the cell value as read (v2 profile: already sanitized
               upstream by the parser — the compiler models that by
               setting Rule.pre_sanitize)
      new   -> the post-transform cell value
      pkey  -> the row's pkey cell value
      token -> the current token of a split cell (Rule.split_tokens)
      const -> unused for const_* kinds

    sanitize: charset profile name or None (apply AFTER choosing source)
    dt: None for IRI terms; '' plain literal; datatype IRI for typed.
    """

    kind: str
    value: str = ""
    source: str = "const"
    sanitize: str | None = None
    dt: str | None = None


# a triple template: subject, predicate, object terms
Template = tuple[Term, Term, Term]


def t_const_iri(value: str) -> Term:
    return Term(kind="const_iri", value=value)


def t_const_lit(value: str, dt: str = "") -> Term:
    return Term(kind="const_lit", value=value, dt=dt)


def t_iri(prefix: str, source: str, sanitize: str | None) -> Term:
    return Term(kind="iri", value=prefix, source=source, sanitize=sanitize)


def t_lit(source: str, dt: str = "") -> Term:
    return Term(kind="lit", source=source, dt=dt)


@dataclass(frozen=True)
class Rule:
    """Triples emitted for one (column, treatment) pair of one row.

    guard — when does the rule fire for a row:
      nonblank       -> cell != ''            (v1 default, v2 post-sanitize)
      nonblank_strip -> cell.strip() != ''    (v5)
      forget         -> cell not in ('NONE','-','')  (v1 semantic)
      always         -> fires for every data row (row-level rules)

    split_tokens — v1 semantic subject2: the (raw) cell is split on ' '
    and every template is instantiated once per token (source='token').

    pre_sanitize — v2..v4 parser behavior: the cell (and pkey) value is
    sanitized *before* any transform/lookup (csv2rdf-v2.py:510,516).
    """

    rule_id: str
    column: str | None
    templates: tuple[Template, ...]
    transform: Transform = Transform()
    guard: str = "nonblank"
    split_tokens: bool = False
    pre_sanitize: str | None = None


@dataclass(frozen=True)
class MappingSpec:
    """A full compiled mapping for one source.

    pkey_column: column whose value is the row key (None in v1 modes).
    needs_rowindex: v1-default subject minting (1-based data-row index).
    columns_used: pruned read set (Catalyst gets an explicit select).
    """

    profile: str  # v1_default | v1_semantic | v2 | v3 | v4 | v5
    domain: str
    rules: tuple[Rule, ...]
    pkey_column: str | None = None
    needs_rowindex: bool = False
    strict_map_miss: bool = False  # v2/v3: any lookup miss aborts the job
    source_name: str = "source"

    @property
    def columns_used(self) -> list[str]:
        cols: list[str] = []
        for r in self.rules:
            if r.column is not None and r.column not in cols:
                cols.append(r.column)
        if self.pkey_column is not None and self.pkey_column not in cols:
            cols.append(self.pkey_column)
        return cols

    def validate_against(self, available_columns: list[str]) -> None:
        """Plan-time schema validation (mirrors reference v5 fail-fast,
        csv2rdf-v5.py:462-477): every bound column must exist."""
        missing = [c for c in self.columns_used if c not in available_columns]
        if missing:
            raise ValueError(
                f"mapping for {self.source_name!r} binds missing columns: "
                f"{missing}; available: {available_columns}"
            )


def sanitize_py(s: str, charset_name: str) -> str:
    """Pure-Python sanitizer (driver-side constants + oracle share it)."""
    charset = SANITIZE_CHARSETS[charset_name]
    return "".join("_" if c in charset else c for c in s)


def py_slice(s: str, lo: int, hi: int) -> str:
    """Reference slice semantics: plain Python s[lo:hi] with int bounds
    (empty grammar bound already parsed to 0 by the compiler)."""
    return s[lo:hi]


def apply_transform_py(cell: str, tr: Transform) -> str:
    """Pure-Python transform application (oracle + tests)."""
    if tr.kind == "none":
        return cell
    if tr.kind == "extract":
        return py_slice(cell, tr.lo, tr.hi)
    if tr.kind == "prefix":
        return tr.affix + cell
    if tr.kind == "suffix":
        return cell + tr.affix
    table = tr.mapping()
    if tr.kind == "map_all":
        key = cell.lower()
        if key in table:
            return table[key]
        if tr.miss == "keep":
            return cell
        if tr.miss == "keep_or_strange":
            return cell if cell.strip() != "" else "STRANGE"
        raise LookupError(f"map miss for {cell!r} (strict policy)")
    if tr.kind == "map_part":
        key = py_slice(cell, tr.lo, tr.hi).lower()
        if key in table:
            return table[key]
        if tr.miss == "keep":
            return cell
        if tr.miss == "keep_slice_or_strange":
            return key if key.strip() != "" else "STRANGE"
        raise LookupError(f"map miss for {key!r} (strict policy)")
    raise ValueError(f"unknown transform kind {tr.kind!r}")
