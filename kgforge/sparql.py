"""Mini-SPARQL over the triple table, compiled to DataFrame plans.

The reference's documented consumption mode for its emitted triples is
SPARQL against a Jena endpoint (csv2rdf-v4/jena/requests.sparql): a
plain BGP dump (:7), a subPropertyOf-inference CONSTRUCT/INSERT
(:9-19), and the version-resolution SELECT DISTINCT + MINUS + FILTER
(:22-31). This module makes the triple table queryable the same way
WITHOUT an external triple store, by compiling that SPARQL subset
straight to Catalyst plans:

  grammar   PREFIX pfx: <iri>
            SELECT [DISTINCT] (?v | (FN([DISTINCT] ?v|*) AS ?alias)
            | (valexpr AS ?alias) ... | *) WHERE { group }
            [GROUP BY ?v ...] [HAVING(expr)]
              — FN ∈ COUNT|SUM|MIN|MAX|AVG|SAMPLE|GROUP_CONCAT
              (GROUP_CONCAT takes `; SEPARATOR="..."`; SAMPLE =
              deterministic min; GROUP_CONCAT sorts members —
              spec leaves both free); grouping is term-based
              (datatype shadows join the keys); projected plain vars
              must be grouped; COUNT skips unbound; SUM/AVG try_cast
              lexical forms to double; MIN/MAX compare lexical forms;
              (valexpr AS ?alias) items are non-aggregate SELECT
              expressions (out of subset next to aggregates)
            CONSTRUCT { template } WHERE { group }
            INSERT { template } WHERE { group }       (same as CONSTRUCT)
            ASK [WHERE] { group }   -> one (ask: boolean) row; probes
              for one solution in one job, never materializing the
              solution set
            DESCRIBE (?v | iri)+ [WHERE { group }]  -> the deduped
              OUTGOING triples of every described node (IRI bindings
              of the vars + the constant targets; the subset's concise
              bounded description is forward edges only)
            group := triple patterns ('.'-separated, ';'/',' lists,
                     `a` == rdf:type; predicate position takes a
                     property path over constant predicates:
                     p := seq ('|' seq)*; seq := elt ('/' elt)*;
                     elt := '^' elt | prim ('+'|'*'|'?')?;
                     prim := iri | 'a' | '(p)'
                           | '!' (iri|'a') | '!(' iri ('|' iri)* ')'
                             (negated property set, forward-only —
                             one step over any OTHER predicate)
                     — `^` inverts IRI-object steps (literal-object
                     triples cannot invert in-subset);
                     — `+`/`*` are SET semantics incl. cycle-reflexive
                     pairs, '/' and '|' are BAG semantics per spec;
                     `*`'s zero-length identity ranges over the
                     graph's IRI node domain) | OPTIONAL { group }
                     | MINUS { group } | FILTER(expr) | nested { group }
                     | FILTER [NOT] EXISTS { group }  (top-level only,
                       bare or parenthesized; EXISTS nested in boolean
                       expressions is out of subset)
                     | VALUES ?v { term... }
                     | VALUES (?v ...) { (term ...) ... }   (inline
                       bindings: a broadcast local relation joined in
                       datatype-reconciled, bag semantics; bare
                       numbers carry xsd:integer/xsd:decimal; UNDEF
                       (round 6) is an unbound binding — it matches
                       anything under the compatibility join)
                     | { SELECT ... }   (subquery, round 6: evaluated
                       bottom-up per the spec — the enclosing group's
                       bindings do not reach inside; only the
                       projected variables join the enclosing group,
                       with their datatype shadows; aggregate aliases
                       carry the aggregate's result datatype)
                     | BIND(valexpr AS ?v)   (fresh target; operands
                       must be bound by PRECEDING members — forward /
                       optional-only references rejected; a later
                       pattern MAY join on a BIND target (ordered
                       evaluation — the target is a real term by
                       then); FILTER / OPTIONAL / MINUS / EXISTS may
                       use it too.
                       valexpr := arithmetic + - * / over numeric
                       terms (int×int stays xsd:integer via try_add
                       family, otherwise xsd:double; plain literals
                       with numeric lexical forms promote, matching
                       the FILTER subset) | CONCAT | STR | STRLEN |
                       UCASE | LCASE | SUBSTR(src, start[, len],
                       1-based) | REPLACE(arg, "pat", "rep"[,
                       "flags"]) | DATATYPE(term) — the datatype IRI
                       (simple literal → xsd:string; IRI/unbound →
                       error) | COALESCE(e...) — first bound arg,
                       carrying its datatype | IF(boolean-expr, then,
                       else) — condition uses the FILTER grammar;
                       error condition → unbound | ?var | term)
                     | { group } UNION { group } (UNION ...)*
            expr  := !=, =, <, <=, >, >=, &&, ||, !, parens,
                     BOUND(?v), REGEX(?v, "pat"[, "flags"]),
                     STRSTARTS/STRENDS/CONTAINS(term, term),
                     isIRI/isURI/isLiteral(?v) (unbound = error),
                     term [NOT] IN (term, ...) (the spec's =-chain
                     sugar; empty lists legal); operands are ?vars,
                     IRIs/pnames, "literals", numbers, or value-
                     function calls (e.g. STRLEN(?x) > 6,
                     DATATYPE(?x) = xsd:integer)

  compile   each triple pattern -> a scan of the triple table with the
            constant positions pushed down as filters (subj/pred/obj
            equality reaches the parquet scan as PushedFilters) and the
            variable positions projected to the variable name; patterns
            chain with equi-joins on their shared variables. Patterns
            whose predicates are all schema predicates (rdfs:subClassOf
            / subPropertyOf / domain / range) are broadcast where they
            meet a join — the schema side is grammar-sized, so e.g. the
            version-resolution query's inference join never shuffles
            the schema side.
            MINUS compiles to LEFT ANTI on the shared variables
            (SPARQL-correct: no shared variables -> no-op); FILTER
            [NOT] EXISTS compiles to LEFT SEMI / LEFT ANTI on the
            shared variables — semantically DISTINCT from MINUS: with
            no shared variables it is a pure existence probe (all rows
            kept or dropped together), the classic disjoint-domain
            case where the two operators give different answers; a MINUS
            side that derives from instance triples is instance-scale,
            so the anti-join itself is a sort-merge join by design
            (AQE demotes it to broadcast at runtime when it is small).
            OPTIONAL compiles to a LEFT OUTER join on the shared
            variables (null-safe, datatype-reconciled like MINUS). A
            group's members compile IN WRITTEN ORDER (round 6, the
            spec's sequential TranslateGroupGraphPattern): each
            pattern / UNION / VALUES / BIND / subquery Joins, each
            OPTIONAL LeftJoins, each MINUS Minuses the accumulated
            solution set at its own position; FILTER and FILTER
            [NOT] EXISTS stay group-scoped (applied once, at the
            end, per the spec). An OPTIONAL sharing no variable with
            the already-accumulated group is out of subset (rejected;
            it would be a cartesian extension).
            UNION compiles each branch independently and unions the
            solution bags (duplicates kept, per spec); branches MAY
            bind different variable sets (round 6) — a var missing
            from a branch is unbound (NULL) in that branch's
            solutions and joins the maybe-unbound set. Datatype
            shadows align across branches (a branch that bound a var
            IRI-only contributes NULL shadows, which IS the IRI tag).
            The unioned block joins the rest of the group
            datatype-reconciled like MINUS.
            FILTER comparisons follow SPARQL operator-mapping as far
            as the subset carries types: when both operands are
            numeric — a bare numeric constant, a literal typed with a
            numeric XSD datatype (the G11 grammar set xsd:integer/
            xsd:float, csv2rdf-v5/csv2rdf-v5.py:47-53, plus the
            standard XSD numeric family), or a variable whose bound
            datatype is numeric AT THAT ROW — the comparison is
            numeric ("10" > "9" holds for integer-typed versions);
            otherwise it is string-wise (simple-literal/IRI
            semantics). A numeric-typed literal whose lexical form
            doesn't parse is a SPARQL type error: the row is dropped
            (try_cast -> NULL -> filter false).

Solution compatibility after OPTIONAL (round 6): an unbound variable
is represented as NULL. The compiler tracks which variables MAY be
unbound (OPTIONAL extensions, UNDEF VALUES rows, BIND targets whose
operands may error, UNION vars missing from a branch, nullable
aggregate aliases) and joins them under SPARQL's compatibility rule —
unbound matches anything, and the merged solution takes the bound
side's term. Certainly-bound variables keep fast null-safe equality,
so the common all-bound query still plans hash joins on every key;
only the genuinely maybe-unbound vars fall out of the equi-key set.
MINUS over maybe-unbound shared vars applies the spec's definition
exactly (compatible AND domains overlap on a var bound in both).
FILTER [NOT] EXISTS correlation through a maybe-unbound var follows
the spec's substitution semantics: a BOUND outer var substitutes
term-exactly into the inner pattern, an UNBOUND one is not
substituted and leaves the inner occurrence unconstrained.

RDF term typing rides along: a variable bound in object position
carries a hidden `<var>__dt` column (None = IRI, '' = plain literal,
else datatype IRI — the emit model, kgforge/triples/emit.py:168-186).
Join compatibility and MINUS compatibility include the datatype; a
variable that also appears in subject/predicate position in a group's
own patterns is IRI-only there, so its object bindings are filtered
to `obj_dt IS NULL` in-plan instead of carrying a shadow column (the
MINUS boundary reconciles sides that disagree on a variable's kind).

SELECT returns the lexical values (one column per variable, SPARQL
projection order); DISTINCT is TERM-based (the hidden datatype shadows
participate in the distinct, then are dropped — "5" plain and
"5"^^xsd:integer are two solutions, even though both print as "5").
CONSTRUCT/INSERT return a deduped (subj, pred, obj, obj_dt) triple
DataFrame; `insert()` unions it back into the source table. A template
subject/predicate variable that binds a literal skips ONLY that
instantiated triple (per-triple filter at instantiation), not the
solution's other template triples — the SPARQL ill-formed-triple rule.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from kgforge.mapping.spec import RDF_TYPE, SCHEMA_PREDS, XSD_NS
from kgforge.triples.emit import TRIPLE_FIELDS


# --------------------------------------------------------------------
# terms / AST
# --------------------------------------------------------------------


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Iri:
    value: str


@dataclass(frozen=True)
class Lit:
    value: str
    dt: str | None = None  # None -> plain literal (obj_dt '')


@dataclass(frozen=True)
class PathPlus:
    """`elt+` — one-or-more property path (the Jena transitive idiom,
    e.g. rdfs:subClassOf+). SPARQL path semantics incl. cycles: (s, s)
    IS a solution when s has a length>=1 path back to itself (round-4
    advice — the strict-closure compilation silently lost those)."""
    elt: "PathExpr"


@dataclass(frozen=True)
class PathStar:
    """`elt*` — zero-or-more: the `+` closure plus zero-length
    identity over the graph's IRI node domain (subjects ∪ IRI
    objects). Subset restriction: literal zero-length endpoints (the
    spec's "every term in the graph" includes literals) are out of
    subset — a literal cannot re-enter a path and our subject-position
    vars are IRI-only."""
    elt: "PathExpr"


@dataclass(frozen=True)
class PathOpt:
    """`elt?` — zero-or-one (round 6): the element's single-step pairs
    plus zero-length identity, SET semantics (the spec's ZeroOrOnePath
    is duplicate-free). Identity follows PathStar's subset rule: the
    graph's IRI node domain for variable endpoints, the constant term
    itself (even when absent from the graph) for a constant endpoint
    under a TOP-LEVEL `?`. Tokenizer note: `?` directly followed by a
    name is a variable (longest-match, `<p>?y` = plain predicate +
    var), so write `<p>? ?y` for the path form."""
    elt: "PathExpr"


@dataclass(frozen=True)
class PathInv:
    """`^elt` — inverse path: (s, ^p, o) ⇔ (o, p, s). Subset
    restriction: only IRI-object steps invert (a literal-object triple
    would put a literal in the pattern's subject position, which the
    engine's IRI-only subject invariant excludes — documented, not
    silent: those triples are filtered before the swap)."""
    elt: "PathExpr"


@dataclass(frozen=True)
class PathNeg:
    """`!p` / `!(p1|p2|...)` — negated property set (round 6), the
    FORWARD-only subset (`^` inside the set is out of subset): one
    step over any predicate NOT in the set. Bag semantics (a single
    step); literal objects ride through with their datatype."""
    preds: tuple  # predicate IRI strings


@dataclass(frozen=True)
class PathSeq:
    """`e1/e2/...` — sequence paths; BAG semantics (the spec expands a
    sequence to a join over a fresh variable, multiplicities
    multiply)."""
    elts: tuple


@dataclass(frozen=True)
class PathAlt:
    """`e1|e2|...` — alternative paths; BAG semantics (the spec
    expands an alternative to UNION, duplicates kept)."""
    alts: tuple


PathExpr = (
    Iri | PathPlus | PathStar | PathOpt | PathSeq | PathAlt | PathInv | PathNeg
)
PATH_TYPES = (PathPlus, PathStar, PathOpt, PathSeq, PathAlt, PathInv, PathNeg)

Term = Var | Iri | Lit


@dataclass
class Group:
    patterns: list[tuple[Term, Term, Term]] = field(default_factory=list)
    filters: list["Expr"] = field(default_factory=list)
    minuses: list["Group"] = field(default_factory=list)
    optionals: list["Group"] = field(default_factory=list)
    unions: list[list["Group"]] = field(default_factory=list)  # one entry per UNION chain
    exists: list[tuple[bool, "Group"]] = field(default_factory=list)  # (negated, group)
    values: list[tuple[list[str], list[list[Term | None]]]] = field(default_factory=list)
    binds: list[tuple[str, object]] = field(default_factory=list)  # (var, ValExpr)
    subqueries: list["Query"] = field(default_factory=list)
    #: the written member order (round 6): ("pattern"|"union"|"values"|
    #: "bind"|"optional"|"minus"|"subquery", index into that list).
    #: The compiler walks this log, implementing the spec's sequential
    #: TranslateGroupGraphPattern (Join / LeftJoin / Minus / Extend in
    #: written order) — FILTERs and FILTER [NOT] EXISTS stay
    #: group-scoped (applied once, at the end, per the spec).
    members: list[tuple[str, int]] = field(default_factory=list)

    def all_vars(self) -> list[str]:
        """Variables of this group's own patterns, first-seen order."""
        out: list[str] = []
        for s, p, o in self.patterns:
            for t in (s, p, o):
                if isinstance(t, Var) and t.name not in out:
                    out.append(t.name)
        return out


@dataclass(frozen=True)
class Agg:
    """One aggregate projection: `(FN([DISTINCT] ?var|*) AS ?alias)`;
    GROUP_CONCAT additionally takes `; SEPARATOR="..."`."""
    fn: str  # count | sum | min | max | avg | sample | group_concat
    var: str | None  # None -> COUNT(*)
    distinct: bool
    alias: str
    sep: str = " "  # GROUP_CONCAT separator (spec default: single space)


@dataclass
class Query:
    form: str  # "select" | "construct"
    group: Group
    select_vars: list[str] | None = None  # None -> SELECT *
    distinct: bool = False
    template: list[tuple[Term, Term, Term]] | None = None
    order: list[tuple[str, bool]] | None = None  # (var, descending)
    limit: int | None = None
    offset: int | None = None
    #: projection order when aggregates or SELECT expressions are
    #: present: ("var", name) | ("agg", index into aggs) | ("expr",
    #: index into exprs); None for plain variable-only SELECT
    select_items: list[tuple[str, object]] | None = None
    aggs: list[Agg] = field(default_factory=list)
    group_by: list[str] | None = None
    having: "Expr | None" = None
    #: SELECT expression items `(valexpr AS ?alias)`: (alias, ValExpr)
    exprs: list[tuple[str, object]] = field(default_factory=list)
    #: DESCRIBE targets (Var | Iri terms); the group may be empty for
    #: the constant-only `DESCRIBE <iri>` form
    describe: list | None = None


# filter expression AST
@dataclass(frozen=True)
class Cmp:
    op: str
    left: Term | float
    right: Term | float


@dataclass(frozen=True)
class BoolOp:
    op: str  # "and" | "or"
    args: tuple


@dataclass(frozen=True)
class Not:
    arg: object


@dataclass(frozen=True)
class Call:
    fn: str  # "bound" | "regex"
    args: tuple


Expr = Cmp | BoolOp | Not | Call


# value-expression AST (BIND / SELECT expressions)
@dataclass(frozen=True)
class Arith:
    """Numeric arithmetic. Evaluation rule (subset): an operand is
    numeric when its datatype is in the XSD numeric family, OR it is a
    plain literal whose lexical form parses as a number (the
    reference's untyped version literals — same promotion the FILTER
    subset applies to bare-number comparisons). Integer×integer under
    +,-,* stays xsd:integer (64-bit); anything else evaluates in
    xsd:double (SPARQL's decimal results canonicalize to double — the
    subset's one divergence, documented). A non-numeric operand is a
    SPARQL type error: the bound value is unbound (NULL)."""
    op: str  # + - * /
    left: object
    right: object


@dataclass(frozen=True)
class FnCall:
    """String builtins of the subset: CONCAT (plain-literal result,
    NULL-propagating like the spec's error rule), STR (lexical form of
    any term, plain), STRLEN (xsd:integer), UCASE / LCASE / SUBSTR /
    REPLACE (plain), COALESCE (first bound argument, carrying its own
    datatype), IF (condition = a FILTER-grammar boolean expression;
    an error condition leaves the result unbound)."""
    fn: str  # concat|str|strlen|ucase|lcase|substr|replace|coalesce|if
    args: tuple


ValExpr = Arith | FnCall | Term


# --------------------------------------------------------------------
# tokenizer / parser
# --------------------------------------------------------------------

_TOKEN = re.compile(
    r"""
      \s+ | \#[^\n]*                              # skip space + comments
    | (?P<iri><[^<>\s]*>)
    | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<lit>"(?:[^"\\]|\\.)*")
    | (?P<dtsep>\^\^)
    | (?P<num>[+-]?\d+(?:\.\d+)?)
    | (?P<pname>[A-Za-z_][A-Za-z0-9_.-]*)?:
      (?P<plocal>(?:[A-Za-z0-9_%-]+(?:\.[A-Za-z0-9_%-]+)*)?)
      # PN_LOCAL may CONTAIN dots but not end with one — a trailing
      # '.' is the triple terminator (`... ns1:Variant. }`)
    | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op><=|>=|!=|\|\||&&|[{}().;,=<>!*+|/^?])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "prefix", "select", "construct", "insert", "where", "distinct",
    "minus", "filter", "optional", "union", "a", "values", "group",
    "having", "order", "by", "asc", "desc", "limit", "offset", "bind",
}

_AGG_FNS = ("count", "sum", "min", "max", "avg", "sample", "group_concat")


def _tokenize(text: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m or m.end() == pos:
            raise ValueError(f"SPARQL tokenizer stuck at {text[pos:pos + 20]!r}")
        pos = m.end()
        if m.lastgroup is None or m.group().strip() == "" or m.group().startswith("#"):
            if m.group("plocal") is None and m.group("iri") is None:
                continue
        if m.group("iri"):
            out.append(("iri", m.group("iri")[1:-1]))
        elif m.group("var"):
            name = m.group("var")[1:]
            if name.startswith("__dt_"):
                raise ValueError(
                    f"variable ?{name} collides with the internal "
                    "datatype-shadow namespace (__dt_*)"
                )
            out.append(("var", name))
        elif m.group("lit"):
            raw = m.group("lit")[1:-1]
            out.append(("lit", raw.replace('\\"', '"').replace("\\\\", "\\")))
        elif m.group("dtsep"):
            out.append(("op", "^^"))
        elif m.group("num"):
            out.append(("num", m.group("num")))
        elif m.group("plocal") is not None:
            out.append(("pname", f"{m.group('pname') or ''}:{m.group('plocal')}"))
        elif m.group("word"):
            w = m.group("word")
            out.append(("kw", w.lower()) if w.lower() in _KEYWORDS else ("word", w))
        else:
            out.append(("op", m.group("op")))
    return out


def _pattern_vars(pats: list[tuple]) -> set[str]:
    return {t.name for pat in pats for t in pat if isinstance(t, Var)}


def _group_binds(g: Group) -> set[str]:
    """Every variable a group graph pattern may BIND (patterns, UNION
    branches, nested OPTIONALs, VALUES blocks, BIND targets, subquery
    projections — not MINUS/FILTER, which never bind; round-5 advice:
    a var bound only via VALUES used to escape the hazard guard)."""
    out = _pattern_vars(g.patterns)
    for alts in g.unions:
        for a in alts:
            out |= _group_binds(a)
    for o in g.optionals:
        out |= _group_binds(o)
    for vars_, _rows in g.values:
        out |= set(vars_)
    out |= {v for v, _e in g.binds}
    for sq in g.subqueries:
        out |= set(_subquery_vars(sq))
    return out


def _certain_binds(g: Group) -> set[str]:
    """Variables bound in EVERY solution of the group — the complement
    drives the compatibility-join machinery (round 6): a var that may
    be unbound (NULL) joins with SPARQL compatibility semantics
    (unbound matches anything), a certainly-bound var keeps the fast
    null-safe equi-join. Certain: pattern vars, vars certain in ALL
    UNION branches, VALUES vars with no UNDEF row, subquery
    projections certain in the inner group. NOT certain: anything from
    OPTIONAL, BIND targets (an evaluation error leaves the target
    unbound), aggregate aliases that can be NULL (AVG/MIN/MAX/SAMPLE
    over all-unbound groups), SELECT-expression aliases."""
    out = _pattern_vars(g.patterns)
    for alts in g.unions:
        if alts:
            out |= set.intersection(*(_certain_binds(a) for a in alts))
    for vars_, rows in g.values:
        for j, v in enumerate(vars_):
            if all(row[j] is not None for row in rows):
                out.add(v)
    for sq in g.subqueries:
        out |= _subquery_certain(sq)
    return out


def _subquery_certain(sq: "Query") -> set[str]:
    """Subquery projections certainly bound in every output row:
    plain vars certain in the inner group, plus COUNT / SUM /
    GROUP_CONCAT aliases (never NULL). AVG/MIN/MAX/SAMPLE can yield
    NULL (all-unbound or all-non-numeric groups) — maybe."""
    inner_certain = _certain_binds(sq.group)
    out: set[str] = set()
    for kind, name in sq.select_items or [
        ("var", v) for v in (sq.select_vars or [])
    ]:
        if kind == "var" and name in inner_certain:
            out.add(name)
        elif kind == "agg":
            a = sq.aggs[name]
            if a.fn in ("count", "sum", "group_concat"):
                out.add(a.alias)
    return out


def _subquery_vars(sq: "Query") -> list[str]:
    """The variables a `{ SELECT ... }` subquery projects into the
    enclosing group."""
    if sq.select_items is not None:
        out = []
        for kind, name in sq.select_items:
            if kind == "var":
                out.append(name)
            elif kind == "agg":
                out.append(sq.aggs[name].alias)
            else:
                out.append(sq.exprs[name][0])
        return out
    if sq.select_vars is not None:
        return list(sq.select_vars)
    raise ValueError("SELECT * subqueries are out of subset (name the "
                     "variables the subquery projects)")


def _valexpr_vars(e) -> set[str]:
    """Variables a value expression reads — including the boolean
    condition of IF(expr, then, else), whose nodes come from the
    FILTER grammar (Cmp/BoolOp/Not/Call)."""
    if isinstance(e, Var):
        return {e.name}
    if isinstance(e, (Arith, Cmp)):
        return _valexpr_vars(e.left) | _valexpr_vars(e.right)
    if isinstance(e, (FnCall, BoolOp, Call)):
        return set().union(*(_valexpr_vars(a) for a in e.args)) if e.args else set()
    if isinstance(e, Not):
        return _valexpr_vars(e.arg)
    return set()


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}

    # -- token helpers -------------------------------------------------
    def peek(self) -> tuple[str, str]:
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self) -> tuple[str, str]:
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, val: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise ValueError(f"expected {val or kind}, got {k}:{v!r}")
        return v

    def at(self, kind: str, val: str | None = None) -> bool:
        k, v = self.peek()
        return k == kind and (val is None or v == val)

    # -- grammar -------------------------------------------------------
    def parse(self) -> Query:
        while self.at("kw", "prefix"):
            self.next()
            pfx = self.expect("pname")
            if not pfx.endswith(":"):
                pfx = pfx.split(":")[0] + ":"
            ns = self.expect("iri")
            self.prefixes[pfx[:-1]] = ns
        if self.at("kw", "select"):
            q = self._select()
        elif self.at("kw", "construct") or self.at("kw", "insert"):
            q = self._construct()
        elif self.at("word") and self.peek()[1].lower() == "ask":
            self.next()
            if self.at("kw", "where"):
                self.next()
            q = Query("ask", self._group())
        elif self.at("word") and self.peek()[1].lower() == "describe":
            q = self._describe()
        else:
            raise ValueError(
                "expected SELECT/CONSTRUCT/INSERT/ASK/DESCRIBE, got "
                f"{self.peek()}"
            )
        if not self.at("eof"):
            # silently ignoring trailing tokens would e.g. drop a
            # misspelled modifier and dump the full result set
            raise ValueError(f"unexpected trailing tokens at {self.peek()}")
        return q

    def _describe(self) -> Query:
        """`DESCRIBE (?var | iri)+ [WHERE { group }]` — the subset's
        description is the node's OUTGOING triples (Jena's default
        concise bounded description restricted to forward edges; the
        engine's subjects are always IRIs). Variable targets need a
        WHERE group; constant-only DESCRIBE takes none."""
        self.next()  # DESCRIBE
        targets: list = []
        while self.at("var") or self.at("iri") or self.at("pname"):
            targets.append(self._read_term("DESCRIBE target"))
        if not targets:
            raise ValueError("DESCRIBE needs at least one ?var or IRI")
        has_vars = any(isinstance(t, Var) for t in targets)
        g = Group()
        if self.at("kw", "where") or self.at("op", "{"):
            if self.at("kw", "where"):
                self.next()
            g = self._group()
        elif has_vars:
            raise ValueError("DESCRIBE with ?vars needs a WHERE group")
        if has_vars:
            bound = _group_binds(g)
            missing = [
                t.name for t in targets
                if isinstance(t, Var) and t.name not in bound
            ]
            if missing:
                raise ValueError(
                    f"DESCRIBE variable(s) {missing} not bound in the "
                    "WHERE group"
                )
        return Query("describe", g, describe=targets)

    def _select(self) -> Query:
        self.expect("kw", "select")
        distinct = False
        if self.at("kw", "distinct"):
            self.next()
            distinct = True
        sel: list[str] | None
        items: list[tuple[str, object]] = []
        aggs: list[Agg] = []
        exprs: list[tuple[str, object]] = []
        if self.at("op", "*"):
            self.next()
            sel = None
        else:
            while True:
                if self.at("var"):
                    items.append(("var", self.next()[1]))
                elif self.at("op", "("):
                    # `(FN(...) AS ?a)` aggregate vs `(valexpr AS ?a)`
                    # expression: an aggregate head is FN followed by
                    # an opening paren
                    k2, v2 = (
                        self.toks[self.i + 1]
                        if self.i + 1 < len(self.toks) else ("eof", "")
                    )
                    k3, v3 = (
                        self.toks[self.i + 2]
                        if self.i + 2 < len(self.toks) else ("eof", "")
                    )
                    if (
                        k2 == "word" and v2.lower() in _AGG_FNS
                        and k3 == "op" and v3 == "("
                    ):
                        aggs.append(self._agg_item())
                        items.append(("agg", len(aggs) - 1))
                    else:
                        exprs.append(self._expr_item())
                        items.append(("expr", len(exprs) - 1))
                else:
                    break
            if not items:
                raise ValueError("SELECT needs ?vars, aggregates or *")
            sel = [name for kind, name in items if kind == "var"]
        if self.at("kw", "where"):
            self.next()
        group = self._group()
        gb: list[str] | None = None
        if self.at("kw", "group"):
            self.next()
            self.expect("kw", "by")
            gb = []
            while self.at("var"):
                gb.append(self.next()[1])
            if not gb:
                raise ValueError("GROUP BY needs at least one ?variable")
        having = None
        if self.at("kw", "having"):
            if not aggs and gb is None:
                raise ValueError("HAVING requires aggregates or GROUP BY")
            self.next()
            self.expect("op", "(")
            having = self._expr()
            self.expect("op", ")")
        if aggs or gb is not None:
            if sel is None:
                raise ValueError("SELECT * cannot combine with aggregates/GROUP BY")
            if distinct:
                raise ValueError("SELECT DISTINCT with aggregates is out of subset")
            if exprs:
                raise ValueError(
                    "SELECT expressions next to aggregates/GROUP BY are "
                    "out of subset (compute with BIND inside the group, "
                    "or post-process the grouped result)"
                )
            q = Query(
                "select", group, select_vars=sel, select_items=items,
                aggs=aggs, group_by=gb, having=having,
            )
        elif exprs:
            seen_aliases = {a for a, _ in exprs}
            dup = seen_aliases & set(sel or [])
            if dup or len(seen_aliases) != len(exprs):
                raise ValueError(
                    "SELECT expression alias collides with a projected "
                    f"variable or another alias ({sorted(dup) or 'dup alias'})"
                )
            q = Query(
                "select", group, select_vars=sel, distinct=distinct,
                select_items=items, exprs=exprs,
            )
        else:
            q = Query("select", group, select_vars=sel, distinct=distinct)
        self._modifiers(q)
        return q

    def _expr_item(self) -> tuple[str, object]:
        """`( valexpr AS ?alias )` — a SELECT expression item."""
        self.expect("op", "(")
        ex = self._val_expr()
        if not (self.at("word") and self.peek()[1].lower() == "as"):
            raise ValueError("SELECT expression needs AS ?alias")
        self.next()
        alias = self.expect("var")
        self.expect("op", ")")
        return (alias, ex)

    def _agg_item(self) -> Agg:
        """`( FN ( [DISTINCT] ?var | * ) AS ?alias )` — the aggregate
        projection form. FN ∈ COUNT | SUM | MIN | MAX | AVG | SAMPLE |
        GROUP_CONCAT (SUM/AVG coerce lexical forms with try_cast
        double — non-numeric terms become NULL and are ignored, the
        subset's reading of the spec's type-error rule; SAMPLE picks
        the MINIMUM lexical form — the spec allows any member, the
        engine canonicalizes for determinism; GROUP_CONCAT sorts
        members ascending before joining — the spec leaves order
        undefined — and takes `; SEPARATOR="..."`, default one
        space)."""
        self.expect("op", "(")
        k, v = self.next()
        fn = v.lower() if k == "word" else ""
        if fn not in _AGG_FNS:
            raise ValueError(f"unsupported aggregate {v!r}")
        self.expect("op", "(")
        distinct = False
        if self.at("kw", "distinct"):
            self.next()
            distinct = True
        if self.at("op", "*"):
            self.next()
            var = None
            if fn != "count":
                raise ValueError(f"{fn.upper()}(*) is not a thing; only COUNT(*)")
        else:
            var = self.expect("var")
        sep = " "
        if self.at("op", ";"):
            if fn != "group_concat":
                raise ValueError("only GROUP_CONCAT takes a SEPARATOR option")
            self.next()
            if not (self.at("word") and self.peek()[1].lower() == "separator"):
                raise ValueError('expected SEPARATOR="..." after ;')
            self.next()
            self.expect("op", "=")
            sep = self.expect("lit")
        self.expect("op", ")")
        if not (self.at("word") and self.peek()[1].lower() == "as"):
            raise ValueError("aggregate projection needs AS ?alias")
        self.next()
        alias = self.expect("var")
        self.expect("op", ")")
        return Agg(fn, var, distinct, alias, sep)

    def _modifiers(self, q: Query) -> None:
        """ORDER BY (ASC(?v)|DESC(?v)|?v)+ / LIMIT n / OFFSET n."""
        if self.at("kw", "order"):
            self.next()
            self.expect("kw", "by")
            q.order = []
            while True:
                if self.at("kw", "asc") or self.at("kw", "desc"):
                    desc = self.next()[1] == "desc"
                    self.expect("op", "(")
                    q.order.append((self.expect("var"), desc))
                    self.expect("op", ")")
                elif self.at("var"):
                    q.order.append((self.next()[1], False))
                else:
                    break
            if not q.order:
                raise ValueError("ORDER BY needs at least one sort key")
        while self.at("kw", "limit") or self.at("kw", "offset"):
            kw = self.next()[1]
            val = int(self.expect("num"))
            if val < 0:
                raise ValueError(f"{kw.upper()} must be non-negative")
            if kw == "limit":
                q.limit = val
            else:
                q.offset = val

    def _construct(self) -> Query:
        self.next()  # construct | insert
        self.expect("op", "{")
        template = self._triples_until_close()
        self.expect("kw", "where")
        group = self._group()
        q = Query("construct", group, template=template)
        self._modifiers(q)  # modifiers act on the solution sequence
        return q

    def _group(self) -> Group:
        self.expect("op", "{")
        g = Group()
        # Round 6: the compiler evaluates group members IN WRITTEN
        # ORDER (the spec's sequential TranslateGroupGraphPattern —
        # Join / LeftJoin / Minus / Extend at each member's position),
        # so the round-4/5 reorder-hazard rejections are gone: a
        # pattern after an OPTIONAL joins with SPARQL compatibility
        # semantics (unbound matches anything, the merged solution
        # takes the bound side), a pattern may join on a BIND target,
        # MINUS applies at its written position. What remains checked
        # here are the spec's own BIND scoping rules: `bound` tracks
        # certainly-bound vars, `scope` everything in scope including
        # maybe-unbound (OPTIONAL / UNDEF-VALUES / BIND-target) vars.
        bound: set[str] = set()
        scope: set[str] = set()

        while not self.at("op", "}"):
            if self.at("kw", "minus"):
                self.next()
                m = self._group()
                g.minuses.append(m)
                g.members.append(("minus", len(g.minuses) - 1))
            elif self.at("kw", "optional"):
                self.next()
                opt = self._group()
                g.optionals.append(opt)
                g.members.append(("optional", len(g.optionals) - 1))
                scope |= _group_binds(opt)
            elif self.at("kw", "filter"):
                # filters are group-scoped in SPARQL (applied to the
                # whole group regardless of position) — not a member.
                # FILTER [NOT] EXISTS { G } is the brace-group form
                # (top-level only; EXISTS nested inside boolean
                # expressions is out of subset)
                self.next()
                wrapped = False
                if self.at("op", "("):
                    k2, v2 = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else ("eof", "")
                    if k2 == "word" and v2.lower() in ("exists", "not"):
                        self.next()
                        wrapped = True
                if self.at("word") and self.peek()[1].lower() in ("exists", "not"):
                    negated = self.next()[1].lower() == "not"
                    if negated:
                        k2, v2 = self.next()
                        if k2 != "word" or v2.lower() != "exists":
                            raise ValueError("expected EXISTS after NOT")
                    g.exists.append((negated, self._group()))
                    if wrapped:
                        self.expect("op", ")")
                else:
                    if not wrapped:
                        self.expect("op", "(")
                    g.filters.append(self._expr())
                    self.expect("op", ")")
            elif self.at("op", "{"):
                k2, v2 = (
                    self.toks[self.i + 1]
                    if self.i + 1 < len(self.toks) else ("eof", "")
                )
                if k2 == "kw" and v2 == "select":
                    # subquery: evaluated independently (bottom-up per
                    # spec), its projection joins the enclosing group
                    # at this position
                    self.next()
                    sq = self._select()
                    self.expect("op", "}")
                    if sq.exprs:
                        raise ValueError(
                            "SELECT expressions inside subqueries are "
                            "out of subset (use BIND in the outer group)"
                        )
                    sq_vars = set(_subquery_vars(sq))  # raises on SELECT *
                    g.subqueries.append(sq)
                    g.members.append(("subquery", len(g.subqueries) - 1))
                    bound |= _subquery_certain(sq)
                    scope |= sq_vars
                    continue
                inner = self._group()
                if self.at("kw", "union"):
                    alts = [inner]
                    while self.at("kw", "union"):
                        self.next()
                        alts.append(self._group())
                    g.unions.append(alts)
                    g.members.append(("union", len(g.unions) - 1))
                    bound |= set.intersection(*(_certain_binds(a) for a in alts))
                    scope |= set().union(*(_group_binds(a) for a in alts))
                else:
                    # nested group graph pattern with no UNION: splice
                    # its members into the parent at this position
                    # (order preserved; indices re-based)
                    for tgt2, _ex2 in inner.binds:
                        if tgt2 in scope:
                            raise ValueError(
                                f"BIND target ?{tgt2} of a nested group "
                                "is already in scope (spec: must be fresh)"
                            )
                    offs = {
                        "pattern": len(g.patterns), "union": len(g.unions),
                        "values": len(g.values), "bind": len(g.binds),
                        "optional": len(g.optionals),
                        "minus": len(g.minuses),
                        "subquery": len(g.subqueries),
                    }
                    g.patterns += inner.patterns
                    g.filters += inner.filters
                    g.minuses += inner.minuses
                    g.optionals += inner.optionals
                    g.unions += inner.unions
                    g.values += inner.values
                    g.exists += inner.exists
                    g.binds += inner.binds
                    g.subqueries += inner.subqueries
                    g.members += [(k, i + offs[k]) for k, i in inner.members]
                    bound |= _certain_binds(inner)
                    scope |= _group_binds(inner)
            elif self.at("kw", "values"):
                self.next()
                vars_, rows = self._values_block()
                g.values.append((vars_, rows))
                g.members.append(("values", len(g.values) - 1))
                for j, v in enumerate(vars_):
                    if all(row[j] is not None for row in rows):
                        bound.add(v)
                scope |= set(vars_)
            elif self.at("kw", "bind"):
                self.next()
                self.expect("op", "(")
                ex = self._val_expr()
                if not (self.at("word") and self.peek()[1].lower() == "as"):
                    raise ValueError("BIND needs AS ?var")
                self.next()
                tgt = self.expect("var")
                self.expect("op", ")")
                used = _valexpr_vars(ex)
                fwd = used - scope
                if fwd:
                    # spec scoping: BIND sees only variables bound by
                    # PRECEDING elements — a reference to a var no
                    # preceding member can bind is almost certainly a
                    # typo; rejected loudly (the spec would silently
                    # evaluate it as unbound). Optionally-bound
                    # operands ARE in scope: NULL propagates to an
                    # unbound target, the spec's error value.
                    raise ValueError(
                        f"BIND reads variable(s) {sorted(fwd)} not bound "
                        "by any preceding member (move the BIND after "
                        "the pattern that binds them)"
                    )
                if tgt in scope:
                    raise ValueError(
                        f"BIND target ?{tgt} is already in scope "
                        "(spec: the target must be a fresh variable)"
                    )
                g.binds.append((tgt, ex))
                g.members.append(("bind", len(g.binds) - 1))
                scope.add(tgt)
            elif self.at("op", "."):
                self.next()
            elif self.at("kw", "union"):
                raise ValueError("UNION must follow a braced group pattern")
            else:
                n_before = len(g.patterns)
                self._triple_lists(g.patterns)
                g.members += [
                    ("pattern", i) for i in range(n_before, len(g.patterns))
                ]
                new_vars = _pattern_vars(g.patterns[n_before:])
                bound |= new_vars
                scope |= new_vars
        self.expect("op", "}")
        return g

    def _triples_until_close(self) -> list[tuple[Term, Term, Term]]:
        pats: list[tuple[Term, Term, Term]] = []
        while not self.at("op", "}"):
            if self.at("op", "."):
                self.next()
                continue
            self._triple_lists(pats)
        self.expect("op", "}")
        return pats

    def _triple_lists(self, out: list[tuple[Term, Term, Term]]) -> None:
        """subject pred obj (',' obj)* (';' pred obj ...)*"""
        s = self._term()
        while True:
            p = self._term(pred=True)
            while True:
                o = self._term()
                out.append((s, p, o))
                if self.at("op", ","):
                    self.next()
                    continue
                break
            if self.at("op", ";"):
                self.next()
                if self.at("op", ".") or self.at("op", "}"):
                    break
                continue
            break

    def _term(self, pred: bool = False) -> Term:
        if pred and not self.at("var"):
            # predicate position: a property-path expression (a bare
            # IRI/pname/`a` is the trivial path and comes back as Iri)
            return self._path()
        return self._read_term("term")

    def _read_term(self, what: str, num=None):
        """One RDF term: ?var, <iri>, pname, or "lex" with an optional
        `^^<dt>` / `^^pname` datatype. A bare number goes to `num` —
        each caller maps it its own way (a typed Lit, a FILTER float)
        or, with no `num`, rejects it like any other token."""
        k, v = self.next()
        if k == "var":
            return Var(v)
        if k == "iri":
            return Iri(v)
        if k == "pname":
            return Iri(self._expand(v))
        if k == "lit":
            if not self.at("op", "^^"):
                return Lit(v)
            self.next()
            dk, dv = self.next()
            if dk == "iri":
                return Lit(v, dv)
            if dk == "pname":
                return Lit(v, self._expand(dv))
            raise ValueError(f"bad datatype token {dk}:{dv!r}")
        if k == "num" and num is not None:
            return num(v)
        raise ValueError(f"bad {what} {k}:{v!r}")

    def _expand(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise ValueError(f"undeclared prefix {pfx!r}:")
        return self.prefixes[pfx] + local

    # -- VALUES --------------------------------------------------------
    def _values_block(self) -> tuple[list[str], list[list[Term]]]:
        """`VALUES ?v { t ... }` or `VALUES (?v ...) { (t ...) ... }`.
        Terms are IRIs/pnames, (typed) literals, bare numbers
        (which carry xsd:integer / xsd:decimal datatypes, the spec's
        numeric-literal mapping), or UNDEF (round 6: an unbound
        binding, None in the row)."""
        if self.at("var"):
            vars_ = [self.next()[1]]
            self.expect("op", "{")
            rows = []
            while not self.at("op", "}"):
                rows.append([self._values_term()])
            self.next()
            return vars_, rows
        self.expect("op", "(")
        vars_ = []
        while self.at("var"):
            vars_.append(self.next()[1])
        if not vars_:
            raise ValueError("VALUES needs at least one ?variable")
        if len(set(vars_)) != len(vars_):
            raise ValueError(f"duplicate variable in VALUES ({vars_})")
        self.expect("op", ")")
        self.expect("op", "{")
        rows = []
        while not self.at("op", "}"):
            self.expect("op", "(")
            row = []
            while not self.at("op", ")"):
                row.append(self._values_term())
            self.next()
            if len(row) != len(vars_):
                raise ValueError(
                    f"VALUES row width {len(row)} != variable count {len(vars_)}"
                )
            rows.append(row)
        self.next()
        return vars_, rows

    def _values_term(self) -> Term | None:
        if self.at("word") and self.peek()[1].lower() == "undef":
            self.next()
            return None  # unbound in this row (round 6)
        if self.at("var"):
            raise ValueError(f"bad VALUES term var:{self.peek()[1]!r}")
        return self._read_term("VALUES term", _num_lit)

    # -- value expressions (BIND / SELECT expressions) -----------------
    #   valexpr := mul (('+'|'-') mul)*
    #   mul     := prim (('*'|'/') prim)*
    #   prim    := '(' valexpr ')' | FN '(' valexpr (',' valexpr)* ')'
    #            | ?var | iri | pname | "lit"[^^dt] | number
    #   FN ∈ CONCAT | STR | STRLEN | UCASE | LCASE | SUBSTR | REPLACE
    #        | COALESCE | IF   (IF's first argument is a BOOLEAN
    #        expression — the FILTER grammar — not a value expression)
    _VAL_FNS = {
        "concat": None, "str": 1, "strlen": 1, "ucase": 1, "lcase": 1,
        "substr": None, "replace": None, "coalesce": None,
        "datatype": 1,
    }

    def _val_if(self):
        self.expect("op", "(")
        cond = self._expr()
        self.expect("op", ",")
        then = self._val_expr()
        self.expect("op", ",")
        els = self._val_expr()
        self.expect("op", ")")
        return FnCall("if", (cond, then, els))

    def _val_expr(self):
        e = self._val_mul()
        while True:
            if self.at("op", "+") or self.at("op", "-"):
                op = self.next()[1]
                e = Arith(op, e, self._val_mul())
            elif self.at("num") and self.peek()[1][0] in "+-":
                # `2+3` tokenizes as num(2) num(+3) — the sign glues to
                # the number (SPARQL shares this lexical quirk); split
                # it back into operator + operand, then let a `*`/`/`
                # suffix bind tighter as usual
                v = self.next()[1]
                rhs = self._val_mul_tail(_num_lit(v[1:]))
                e = Arith(v[0], e, rhs)
            else:
                return e

    def _val_mul(self):
        return self._val_mul_tail(self._val_prim())

    def _val_mul_tail(self, e):
        while self.at("op", "*") or self.at("op", "/"):
            op = self.next()[1]
            e = Arith(op, e, self._val_prim())
        return e

    def _val_prim(self):
        if self.at("op", "("):
            self.next()
            e = self._val_expr()
            self.expect("op", ")")
            return e
        k, v = self.peek()
        if k == "word" and v.lower() == "if":
            self.next()
            return self._val_if()
        if k == "word" and v.lower() in self._VAL_FNS:
            self.next()
            self.expect("op", "(")
            args = [self._val_expr()]
            while self.at("op", ","):
                self.next()
                args.append(self._val_expr())
            self.expect("op", ")")
            fn = v.lower()
            arity = self._VAL_FNS[fn]
            if arity is not None and len(args) != arity:
                raise ValueError(f"{fn.upper()} takes {arity} argument(s)")
            if fn == "substr" and len(args) not in (2, 3):
                raise ValueError("SUBSTR takes (source, start[, length])")
            if fn == "replace":
                if len(args) not in (3, 4):
                    raise ValueError(
                        'REPLACE takes (arg, "pattern", "replacement"'
                        '[, "flags"])'
                    )
                if len(args) == 4 and not isinstance(args[3], Lit):
                    raise ValueError("REPLACE flags must be a literal")
            return FnCall(fn, tuple(args))
        return self._read_term("value-expression operand", _num_lit)

    # -- property paths ------------------------------------------------
    # SPARQL Path grammar, the constant-predicate subset:
    #   Path         := PathSequence ('|' PathSequence)*
    #   PathSequence := PathElt ('/' PathElt)*
    #   PathElt      := PathPrimary ('+' | '*' | '?')?
    #   PathPrimary  := iri | pname | 'a' | '(' Path ')'
    def _path(self):
        alts = [self._path_seq()]
        while self.at("op", "|"):
            self.next()
            alts.append(self._path_seq())
        return alts[0] if len(alts) == 1 else PathAlt(tuple(alts))

    def _path_seq(self):
        elts = [self._path_elt()]
        while self.at("op", "/"):
            self.next()
            elts.append(self._path_elt())
        return elts[0] if len(elts) == 1 else PathSeq(tuple(elts))

    def _path_elt(self):
        if self.at("op", "^"):  # PathEltOrInverse
            self.next()
            return PathInv(self._path_elt())
        prim = self._path_primary()
        if self.at("op", "+"):
            self.next()
            return PathPlus(prim)
        if self.at("op", "*"):
            self.next()
            return PathStar(prim)
        if self.at("op", "?"):
            self.next()
            return PathOpt(prim)
        return prim

    def _path_primary(self):
        if self.at("op", "("):
            self.next()
            p = self._path()
            self.expect("op", ")")
            return p
        if self.at("op", "!"):  # negated property set (forward subset)
            self.next()
            if self.at("op", "("):
                self.next()
                preds = [self._nps_iri()]
                while self.at("op", "|"):
                    self.next()
                    preds.append(self._nps_iri())
                self.expect("op", ")")
            else:
                preds = [self._nps_iri()]
            return PathNeg(tuple(sorted(set(preds))))
        return Iri(self._pred_iri("path element"))

    def _nps_iri(self) -> str:
        """One member of a negated property set — IRI/pname/`a` only
        (`^iri` inverse members are out of subset, rejected loudly)."""
        if self.at("op", "^"):
            raise ValueError(
                "inverse members in a negated property set (!^p) are "
                "out of subset"
            )
        return self._pred_iri("negated-property-set member")

    def _pred_iri(self, what: str) -> str:
        """A constant predicate: <iri>, pname or `a` (rdf:type)."""
        k, v = self.next()
        if k == "iri":
            return v
        if k == "pname":
            return self._expand(v)
        if k == "kw" and v == "a":
            return RDF_TYPE
        raise ValueError(f"bad {what} {k}:{v!r}")

    # -- filter expressions --------------------------------------------
    def _expr(self) -> Expr:
        e = self._and()
        while self.at("op", "||"):
            self.next()
            e = BoolOp("or", (e, self._and()))
        return e

    def _and(self) -> Expr:
        e = self._unary()
        while self.at("op", "&&"):
            self.next()
            e = BoolOp("and", (e, self._unary()))
        return e

    def _unary(self) -> Expr:
        if self.at("op", "!"):
            self.next()
            return Not(self._unary())
        if self.at("op", "("):
            self.next()
            e = self._expr()
            self.expect("op", ")")
            return e
        k, v = self.peek()
        if k == "word" and v.lower() in (
            "bound", "regex", "strstarts", "strends", "contains",
            "isiri", "isuri", "isliteral",
        ):
            self.next()
            self.expect("op", "(")
            args = [self._operand()]
            while self.at("op", ","):
                self.next()
                args.append(self._operand())
            self.expect("op", ")")
            fn = v.lower()
            if fn == "isuri":
                fn = "isiri"  # spec synonym
            if fn in ("bound", "isiri", "isliteral") and (
                len(args) != 1 or not isinstance(args[0], Var)
            ):
                raise ValueError(f"{fn.upper()} takes exactly one ?variable")
            if fn == "regex":
                if len(args) not in (2, 3) or not all(
                    isinstance(a, Lit) for a in args[1:]
                ):
                    raise ValueError(
                        'REGEX takes (term, "pattern"[, "flags"]) with '
                        "literal pattern/flags"
                    )
            if fn in ("strstarts", "strends", "contains") and len(args) != 2:
                raise ValueError(f"{fn.upper()} takes exactly two arguments")
            return Call(fn, tuple(args))
        left = self._operand()
        k, v = self.peek()
        if k == "op" and v in ("!=", "=", "<", "<=", ">", ">="):
            self.next()
            return Cmp(v, left, self._operand())
        if k == "word" and v.lower() == "in":
            # `term IN (t1, t2, ...)` — sugar for an =-chain per spec
            self.next()
            return self._in_list(left, negated=False)
        if k == "word" and v.lower() == "not":
            self.next()
            k2, v2 = self.next()
            if k2 != "word" or v2.lower() != "in":
                raise ValueError(f"expected IN after NOT, got {k2}:{v2!r}")
            return self._in_list(left, negated=True)
        raise ValueError("bare term is not a boolean filter")

    def _in_list(self, left, negated: bool) -> Expr:
        """`?v [NOT] IN (t, ...)` — expands to the spec's =-chain (an
        empty list is legal: IN () is false, NOT IN () is true)."""
        self.expect("op", "(")
        terms = []
        if not self.at("op", ")"):
            terms.append(self._operand())
            while self.at("op", ","):
                self.next()
                terms.append(self._operand())
        self.expect("op", ")")
        if not terms:
            e: Expr = Cmp("=", Lit("0"), Lit("1"))  # statically false
        else:
            e = Cmp("=", left, terms[0])
            for t in terms[1:]:
                e = BoolOp("or", (e, Cmp("=", left, t)))
        return Not(e) if negated else e

    def _operand(self) -> object:
        k, v = self.peek()
        if k == "word" and (v.lower() in self._VAL_FNS or v.lower() == "if"):
            # value-function call as a comparison operand (round 6):
            # FILTER(STRLEN(?x) > 6) and friends — compiled via the
            # valexpr machinery, numericity from its result datatype
            return self._val_prim()
        return self._read_term("filter operand", float)


def _num_lit(v: str) -> Lit:
    """A bare number as a VALUES / value-expression term: xsd:integer
    or xsd:decimal, the spec's numeric-literal mapping."""
    dt = "integer" if re.fullmatch(r"[+-]?\d+", v) else "decimal"
    return Lit(v, XSD_NS + dt)


def parse(query: str) -> Query:
    return _Parser(query).parse()


# --------------------------------------------------------------------
# compiler
# --------------------------------------------------------------------


def _dt_shadow(var: str) -> str:
    return f"__dt_{var}"


def _iri_only_vars(g: Group) -> set[str]:
    """Variables that appear in subject or predicate position in THIS
    group's own patterns: always IRIs, no dt shadow. Deliberately NOT
    recursive into MINUS blocks — a subject-position occurrence inside
    a MINUS must not pre-filter the OUTER group's object bindings to
    IRIs (that would wrongly REMOVE literal solutions that SPARQL
    MINUS keeps); the anti-join boundary handles the mixed case with
    an explicit datatype-compatibility condition instead."""
    out: set[str] = set()
    for s, p, _o in g.patterns:
        for t in (s, p):
            if isinstance(t, Var):
                out.add(t.name)
    return out


def _path_preds(path) -> set[str]:
    """Constant predicate IRIs a path expression touches."""
    if isinstance(path, Iri):
        return {path.value}
    if isinstance(path, (PathPlus, PathStar, PathOpt, PathInv)):
        return _path_preds(path.elt)
    if isinstance(path, PathSeq):
        return set().union(*(_path_preds(e) for e in path.elts))
    if isinstance(path, PathAlt):
        return set().union(*(_path_preds(a) for a in path.alts))
    if isinstance(path, PathNeg):
        # matches the complement — not enumerable, never schema-only
        return set()
    raise ValueError(f"unknown path node {path!r}")


def _node_domain(triples: DataFrame) -> DataFrame:
    """Zero-length path identity: (n, n, NULL) over the graph's IRI
    node domain — every subject plus every IRI object. A table-wide
    distinct; at instance scale a bare `?a p* ?b` enumerates the whole
    node set, which is what the spec asks for (see PathStar — literal
    terms are the subset's one restriction)."""
    nodes = (
        triples.select(F.col("subj").alias("src"))
        .unionByName(
            triples.filter(F.col("obj_dt").isNull()).select(F.col("obj").alias("src"))
        )
        .distinct()
    )
    return nodes.select(
        "src", F.col("src").alias("dst"), F.lit(None).cast("string").alias("dst_dt")
    )


def _plus_df(triples: DataFrame, elt) -> DataFrame:
    """One-or-more closure of a path element, SPARQL semantics:
    distinct (src, dst, dst_dt) pairs connected by >=1 step.

    Continuation edges are IRI-ending (a literal cannot continue a
    path), closed by kgforge.rdfs.transitive_closure with
    reflexive_on_cycle=True — (s, s) IS a solution when s sits on a
    cycle or has a self-edge (round-4 advice: the strict closure lost
    those). Literal-ENDING steps re-enter as the final step only:
    length-1 literal edges directly, longer paths as closure ∘ literal
    edge."""
    from kgforge.rdfs import transitive_closure

    e = _path_df(triples, elt)
    iri_closure = transitive_closure(
        e.filter(F.col("dst_dt").isNull()).select("src", "dst"),
        reflexive_on_cycle=True,
    ).select("src", "dst", F.lit(None).cast("string").alias("dst_dt"))
    lit_edges = e.filter(F.col("dst_dt").isNotNull())
    lit_tails = (
        iri_closure.alias("_c")
        .join(lit_edges.alias("_e"), F.col("_c.dst") == F.col("_e.src"))
        .select(
            F.col("_c.src").alias("src"),
            F.col("_e.dst").alias("dst"),
            F.col("_e.dst_dt").alias("dst_dt"),
        )
    )
    return iri_closure.unionByName(lit_edges).unionByName(lit_tails).distinct()


def _path_df(triples: DataFrame, path) -> DataFrame:
    """Compile a path expression to its solution pair set
    (src, dst, dst_dt). Bag semantics for bare predicates, `/` and `|`
    (the spec expands them to join/UNION — duplicates kept); SET
    semantics for `+`/`*` (defined duplicate-free)."""
    if isinstance(path, Iri):
        return triples.filter(F.col("pred") == path.value).select(
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
            F.col("obj_dt").alias("dst_dt"),
        )
    if isinstance(path, PathNeg):
        return triples.filter(~F.col("pred").isin(*path.preds)).select(
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
            F.col("obj_dt").alias("dst_dt"),
        )
    if isinstance(path, PathInv):
        # only IRI-object steps invert (PathInv docstring): filter
        # literal endings, then swap the pair; the new dst is the
        # original SUBJECT — an IRI by RDF, so dst_dt is NULL
        return (
            _path_df(triples, path.elt)
            .filter(F.col("dst_dt").isNull())
            .select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.lit(None).cast("string").alias("dst_dt"),
            )
        )
    if isinstance(path, PathAlt):
        parts = [_path_df(triples, a) for a in path.alts]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    if isinstance(path, PathSeq):
        out = _path_df(triples, path.elts[0])
        for elt in path.elts[1:]:
            step = _path_df(triples, elt)
            out = (
                out.filter(F.col("dst_dt").isNull())  # literals end a path
                .alias("_l")
                .join(step.alias("_r"), F.col("_l.dst") == F.col("_r.src"))
                .select(
                    F.col("_l.src").alias("src"),
                    F.col("_r.dst").alias("dst"),
                    F.col("_r.dst_dt").alias("dst_dt"),
                )
            )
        return out
    if isinstance(path, PathPlus):
        return _plus_df(triples, path.elt)
    if isinstance(path, PathStar):
        return (
            _plus_df(triples, path.elt)
            .unionByName(_node_domain(triples))
            .distinct()
        )
    if isinstance(path, PathOpt):
        return (
            _path_df(triples, path.elt)
            .unionByName(_node_domain(triples))
            .distinct()
        )
    raise ValueError(f"unknown path node {path!r}")


def _seeded_path_df(
    triples: DataFrame,
    p: PathPlus | PathStar,
    s: Term,
    o: Term,
    max_driver_edges: int = 200_000,
) -> DataFrame | None:
    """Constant-endpoint pushdown for top-level `+`/`*` paths (round-5
    verdict #1): `:x p+ ?y` / `?x p+ :y` evaluate as seed-constrained
    reachability from the constant side instead of materializing the
    FULL predicate closure and filtering it afterwards.

    Driver route: one `kgforge.session.bounded_arrow` probe fetches the
    step relation (src, dst, dst_dt) when it holds at most
    `max_driver_edges` rows; the driver walks its IRI edges from the
    seed (`kgforge.rdfs._reach`), adds the literal tails and the `*`
    identity row, and returns the answer as one local relation — so
    executing the query scans, joins and dedups nothing. Above the
    bound, a frontier BFS over the step relation
    (`kgforge.rdfs.seeded_reachable`) whose touched rows are
    proportional to the reachable subgraph — the plan a seeded path
    query needs at crawl scale (BENCH/path_closure seeded legs) — plus
    a literal-tail join.

    Applies when either endpoint is a constant IRI. Returns None (the
    caller falls back to `_path_df`, the full closure — identical
    results) when: neither endpoint is constant, the object constant
    is a literal with a variable subject (a rare shape the BFS would
    need a literal-aware reverse step for), or the distributed BFS did
    not drain within its round budget (pathological depth). Literal-
    object steps re-enter as FINAL steps only, same rule as _plus_df.
    """
    from kgforge.rdfs import _reach, seeded_reachable
    from kgforge.session import arrow_rows, bounded_arrow, local_df

    s_const = s.value if isinstance(s, Iri) else None
    o_const = o.value if isinstance(o, Iri) else None
    if s_const is None and o_const is None:
        return None
    seed = s_const if s_const is not None else o_const
    e = _path_df(triples, p.elt)
    probe = bounded_arrow(e, max_driver_edges)
    if probe is not None:
        # forward from a subject seed, backward (over IRI edges only: a
        # path to an IRI endpoint never steps through a literal) from an
        # object seed; literal tails hang off the seed and every
        # reached node, forward only
        adj: dict = {}
        lits: dict = {}
        for src, dst, dt in arrow_rows(probe, "src", "dst", "dst_dt"):
            if dt is not None:
                lits.setdefault(src, set()).add((dst, dt))
            elif s_const is not None:
                adj.setdefault(src, set()).add(dst)
            else:
                adj.setdefault(dst, set()).add(src)
        reached = _reach(adj, [seed])
        if s_const is not None:
            rows = {(seed, n, None) for n in reached} | {
                (seed, d, dt) for n in reached | {seed} for d, dt in lits.get(n, ())
            }
        else:
            rows = {(n, seed, None) for n in reached}
        if isinstance(p, PathStar):
            rows.add((seed, seed, None))
        return local_df(
            triples.sparkSession,
            sorted(rows, key=lambda r: (r[0], r[1], r[2] is not None, r[2] or "")),
            "src string, dst string, dst_dt string",
        )
    iri_e = e.filter(F.col("dst_dt").isNull()).select("src", "dst")
    null_dt = F.lit(None).cast("string")

    if s_const is not None:
        reached = seeded_reachable(iri_e, [s_const])
        if reached is None:
            return None
        out = reached.select(
            F.lit(s_const).alias("src"),
            F.col("node").alias("dst"),
            null_dt.alias("dst_dt"),
        )
        # literal endings: one lit step from the seed directly, or a
        # lit step off any reached IRI node
        lit_edges = e.filter(F.col("dst_dt").isNotNull())
        lit_srcs = reached.select("node").unionByName(
            local_df(triples.sparkSession, [(s_const,)], "node string")
        )
        lit_tails = (
            lit_srcs.alias("_n")
            .join(lit_edges.alias("_e"), F.col("_n.node") == F.col("_e.src"))
            .select(
                F.lit(s_const).alias("src"),
                F.col("_e.dst").alias("dst"),
                F.col("_e.dst_dt").alias("dst_dt"),
            )
        )
        out = out.unionByName(lit_tails).distinct()
        if isinstance(p, PathStar):
            out = out.unionByName(_identity_df(triples, [s_const])).distinct()
        return out
    # object-constant IRI, variable subject: inverse BFS. A path to an
    # IRI endpoint is IRI-steps throughout (a literal ends a path), so
    # the reversed IRI step relation suffices.
    rev = iri_e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    reached = seeded_reachable(rev, [o_const])
    if reached is None:
        return None
    out = reached.select(
        F.col("node").alias("src"),
        F.lit(o_const).alias("dst"),
        null_dt.alias("dst_dt"),
    )
    if isinstance(p, PathStar):
        out = out.unionByName(_identity_df(triples, [o_const])).distinct()
    return out


def _identity_df(triples: DataFrame, nodes: list[str]) -> DataFrame:
    """Zero-length path solutions (n, n, NULL) for constant endpoints
    — present even when n is absent from the graph (spec: a
    zero-length path matches the term itself)."""
    from kgforge.session import local_df

    return local_df(
        triples.sparkSession,
        [(n, n, None) for n in nodes],
        "src string, dst string, dst_dt string",
    )


def _compile_path_pattern(
    triples: DataFrame,
    pat: tuple[Term, object, Term],
    iri_only: set[str],
) -> DataFrame:
    """`s PATH o` — the path's solution pair set bound like an
    ordinary pattern. Object vars carry the final step's datatype as
    their shadow (a path CAN end at a literal). For a top-level `*` or
    `?`, a constant endpoint contributes its zero-length (X, X)
    solution even when X is absent from the graph (spec: zero-length
    paths match the term itself) — and for `?` the constant case skips
    the node-domain enumeration entirely; constant endpoints absent
    from the graph under a star NESTED in a longer path are out of
    subset (the nested star's identity ranges over the graph node
    domain only)."""
    s, p, o = pat
    df = None
    consts = sorted({t.value for t in (s, o) if isinstance(t, Iri)})
    if isinstance(p, (PathPlus, PathStar)):
        # constant-endpoint pushdown (round-5 verdict #1): evaluate
        # seed-first when a const IRI endpoint bounds the closure
        df = _seeded_path_df(triples, p, s, o)
    if df is None and isinstance(p, PathOpt) and consts:
        # zero-or-one with a constant IRI endpoint (round 6): the
        # zero-length solution is the constant itself — skip the
        # table-wide node-domain distinct entirely; the single-step
        # side is one pushed-down scan, filtered by the binder
        df = _path_df(triples, p.elt).unionByName(
            _identity_df(triples, consts)
        ).distinct()
    if df is None:
        df = _path_df(triples, p)
        if isinstance(p, PathStar) and consts:
            df = df.unionByName(_identity_df(triples, consts)).distinct()
    return _bind_pattern(df, [(s, "src"), (o, "dst")], "dst_dt", iri_only)


def _compile_pattern(
    triples: DataFrame,
    pat: tuple[Term, Term, Term],
    iri_only: set[str],
) -> DataFrame:
    s, p, o = pat
    if isinstance(p, PATH_TYPES):
        return _compile_path_pattern(triples, pat, iri_only)
    return _bind_pattern(
        triples.select(*TRIPLE_FIELDS),
        [(s, "subj"), (p, "pred"), (o, "obj")],
        "obj_dt",
        iri_only,
    )


def _bind_pattern(
    df: DataFrame, slots: list[tuple[Term, str]], dt_col: str,
    iri_only: set[str],
) -> DataFrame:
    """Bind a pattern's terms against the value columns of its match
    relation — (subj, pred, obj) rows or (src, dst) path pairs; the
    LAST slot is the object end, whose datatype is `dt_col`. Constants
    become filters (pushed to the scan), a var repeated within the
    pattern becomes an equality filter, and each var projects to its
    name, an object var with its `__dt_` shadow unless it is IRI-only
    in the group. A literal matches only at the object end: RDF has
    no literal subjects."""
    proj: dict[str, F.Column] = {}
    obj_col = slots[-1][1]
    for term, col in slots:
        is_obj = col == obj_col
        if isinstance(term, Var):
            if term.name in proj:  # repeated var inside one pattern
                df = df.filter(F.col(col) == proj[term.name])
                # a repeat at the object position still carries the
                # IRI-only constraint (the var was just bound in a
                # subject/predicate slot of this very pattern)
                if is_obj and term.name in iri_only:
                    df = df.filter(F.col(dt_col).isNull())
                continue
            proj[term.name] = F.col(col)
            if is_obj:
                if term.name in iri_only:
                    df = df.filter(F.col(dt_col).isNull())
                else:
                    proj[_dt_shadow(term.name)] = F.col(dt_col)
        elif isinstance(term, Iri):
            df = df.filter(F.col(col) == term.value)
            if is_obj:
                df = df.filter(F.col(dt_col).isNull())
        elif is_obj:  # Lit
            df = df.filter(F.col(col) == term.value)
            df = df.filter(F.col(dt_col) == (term.dt if term.dt else ""))
        else:
            df = df.filter(F.lit(False))
    return df.select([expr.alias(name) for name, expr in proj.items()])


def _schema_pattern(p) -> bool:
    """A pattern whose predicate — or every predicate its path touches
    — is a schema predicate matches a grammar-sized triple set, safe to
    broadcast where it meets a join."""
    preds = set() if isinstance(p, Var) else _path_preds(p)
    return bool(preds) and preds.issubset(SCHEMA_PREDS)


def _compat_cond(
    l_cols: list[str], r_cols: list[str], shared: list[str],
    l_maybe: set[str], r_maybe: set[str],
) -> F.Column:
    """Join condition between two binding sets (_l, _r) under SPARQL
    solution COMPATIBILITY (round 6): a var that may be UNBOUND (NULL)
    on either side matches anything when unbound — `l IS NULL OR r IS
    NULL OR l = r (term-equal incl. datatype)`. A side that bound the
    var IRI-only (no shadow) forces the other side's shadow NULL —
    only IRI terms match. Certainly-bound vars keep fast null-safe
    equality, so the common all-bound join still plans as a hash join
    on every key; only the genuinely maybe-unbound vars fall out of
    the equi-key set (Catalyst keeps the equality keys for the hash
    join and evaluates the OR-NULL residual as a post-join condition)."""
    cond = F.lit(True)
    for v in shared:
        l, r = F.col(f"_l.{v}"), F.col(f"_r.{v}")
        sh = _dt_shadow(v)
        l_sh, r_sh = sh in l_cols, sh in r_cols
        if l_sh and r_sh:
            dt_eq = F.col(f"_l.{sh}").eqNullSafe(F.col(f"_r.{sh}"))
        elif l_sh:  # other side bound v IRI-only — only IRI terms match
            dt_eq = F.col(f"_l.{sh}").isNull()
        elif r_sh:
            dt_eq = F.col(f"_r.{sh}").isNull()
        else:
            dt_eq = F.lit(True)
        if v in l_maybe or v in r_maybe:
            cond = cond & (l.isNull() | r.isNull() | ((l == r) & dt_eq))
        else:
            cond = cond & l.eqNullSafe(r) & dt_eq
    return cond


def _merged_cols(
    l_cols: list[str], r_cols: list[str], shared: list[str],
    l_maybe: set[str], r_maybe: set[str],
) -> list[F.Column]:
    """Output projection of a compatibility join: the merged solution
    takes the BOUND side's term for a shared maybe-unbound var
    (coalesce; the shadow follows whichever side supplied the value),
    the left side's for certainly-bound vars (the sides are term-equal
    there). Column order: left columns, then right-only columns."""
    compat = {v for v in shared if v in l_maybe or v in r_maybe}
    lset = set(l_cols)
    out: list[F.Column] = []
    for c in l_cols:
        if c.startswith("__dt_"):
            v = c[5:]
            if v in compat:
                r_sh = (
                    F.col(f"_r.{c}") if c in r_cols
                    else F.lit(None).cast("string")
                )
                out.append(
                    F.when(F.col(f"_l.{v}").isNotNull(), F.col(f"_l.{c}"))
                    .otherwise(r_sh).alias(c)
                )
            else:
                out.append(F.col(f"_l.{c}").alias(c))
        elif c in compat:
            out.append(F.coalesce(F.col(f"_l.{c}"), F.col(f"_r.{c}")).alias(c))
        else:
            out.append(F.col(f"_l.{c}").alias(c))
    for c in r_cols:
        if c in lset:
            continue
        if c.startswith("__dt_") and c[5:] in compat:
            # right-only shadow of a merged var: the left side bound it
            # IRI-only (dt NULL) — the shadow applies only when the
            # value came from the right
            v = c[5:]
            out.append(
                F.when(F.col(f"_l.{v}").isNull(), F.col(f"_r.{c}")).alias(c)
            )
        else:
            out.append(F.col(f"_r.{c}").alias(c))
    return out


def _compat_join(
    acc: DataFrame | None, other: DataFrame,
    l_maybe: set[str], r_maybe: set[str],
) -> tuple[DataFrame, set[str]]:
    """SPARQL Join of two binding sets; returns (joined, maybe-unbound
    vars of the result). A shared var stays maybe only when BOTH sides
    may leave it unbound (a certainly-bound side always supplies a
    term via coalesce)."""
    if acc is None:
        return other, set(r_maybe)
    l_cols, r_cols = list(acc.columns), list(other.columns)
    l_vars = {c for c in l_cols if not c.startswith("__dt_")}
    r_vars = {c for c in r_cols if not c.startswith("__dt_")}
    shared = sorted(l_vars & r_vars)
    new_maybe = (
        {v for v in shared if v in l_maybe and v in r_maybe}
        | ((l_vars - r_vars) & l_maybe)
        | ((r_vars - l_vars) & r_maybe)
    )
    if not shared:
        return acc.crossJoin(other), new_maybe
    cond = _compat_cond(l_cols, r_cols, shared, l_maybe, r_maybe)
    joined = acc.alias("_l").join(other.alias("_r"), cond, "inner")
    return (
        joined.select(_merged_cols(l_cols, r_cols, shared, l_maybe, r_maybe)),
        new_maybe,
    )


def _compile_union(
    triples: DataFrame, alts: list[Group]
) -> tuple[DataFrame, set[str]]:
    """{A} UNION {B} ... — each branch compiled independently, solution
    BAGS unioned (duplicates kept per spec). Branches may bind
    DIFFERENT variable sets (round 6): a var missing from a branch is
    unbound (NULL value + NULL shadow) in that branch's solutions and
    joins the maybe-unbound set. Datatype shadows align across
    branches — a branch that bound the var IRI-only contributes NULL
    shadows (NULL = the IRI tag). Returns (bag, maybe-unbound vars).
    Local branches (driver-answered seeded paths, VALUES) are unioned
    on the driver: Spark folds no Union of local relations."""
    from kgforge.session import is_local, local_df

    compiled = [_compile_group_ex(triples, a) for a in alts]
    dfs = [c[0] for c in compiled]
    varsets = [
        {c for c in d.columns if not c.startswith("__dt_")} for d in dfs
    ]
    all_vars = set().union(*varsets)
    certain = set.intersection(*varsets)
    maybe = (all_vars - certain) | set().union(*(c[1] for c in compiled))
    shadows = sorted(
        set().union(*({c for c in d.columns if c.startswith("__dt_")} for d in dfs))
    )
    cols = sorted(all_vars) + shadows
    aligned = []
    for d in dfs:
        for v in sorted(all_vars):
            if v not in d.columns:
                d = d.withColumn(v, F.lit(None).cast("string"))
        for sh in shadows:
            if sh not in d.columns:
                d = d.withColumn(sh, F.lit(None).cast("string"))
        aligned.append(d.select(*cols))
    out = aligned[0]
    for d in aligned[1:]:
        out = out.unionByName(d)
    # a union with no columns keeps its row count only as a Spark plan
    if cols and all(is_local(d) for d in aligned):
        rows = [tuple(r) for d in aligned for r in d.collect()]
        out = local_df(out.sparkSession, rows, out.schema)
    return out, maybe


def _values_df(spark, vars_: list[str], rows: list[list]) -> DataFrame:
    """Inline VALUES data as a local relation: one lexical column per
    variable plus its datatype shadow (a block may mix IRIs and
    literals), joined into the group datatype-reconciled. Bag
    semantics — duplicate rows are kept as written. UNDEF (round 6)
    arrives as None → NULL value + NULL shadow, an unbound binding the
    compatibility join lets match anything."""
    from kgforge.session import local_df

    cols: list[str] = []
    for v in vars_:
        cols += [v, _dt_shadow(v)]
    data = []
    for row in rows:
        out: list[str | None] = []
        for t in row:
            if t is None:  # UNDEF
                out += [None, None]
            elif isinstance(t, Iri):
                out += [t.value, None]
            else:  # Lit
                out += [t.value, t.dt if t.dt else ""]
        data.append(tuple(out))
    schema = ", ".join(f"{c} string" for c in cols)
    return local_df(spark, data, schema)


def _compile_group(triples: DataFrame, g: Group) -> DataFrame:
    """Compile a group graph pattern (see _compile_group_ex)."""
    return _compile_group_ex(triples, g)[0]


#: member kinds that bind solutions (a group made only of MINUS /
#: OPTIONAL members has nothing to subtract from / extend)
_BINDING_MEMBERS = frozenset(("pattern", "union", "values", "bind", "subquery"))


def _compile_group_ex(
    triples: DataFrame, g: Group, side: bool = False
) -> tuple[DataFrame, set[str]]:
    """Compile a group graph pattern IN WRITTEN MEMBER ORDER — the
    spec's sequential TranslateGroupGraphPattern: each member Joins /
    LeftJoins (OPTIONAL) / Minuses / Extends (BIND) the accumulated
    solution set at its own position. FILTERs and FILTER [NOT] EXISTS
    are group-scoped (applied once, at the end, per the spec).

    Returns (solutions, maybe-unbound vars). The maybe set — vars an
    OPTIONAL / UNDEF VALUES row / BIND error / partial UNION branch
    may leave NULL — drives the compatibility-join conditions: unbound
    matches anything and the merged solution takes the bound side.
    Certainly-bound vars keep null-safe equality, so the common
    all-bound query still plans hash joins on every key.

    Schema patterns and VALUES blocks are broadcast only where they
    meet a join: another binding member of this group, or — `side` —
    the group's solutions are themselves a join operand (an OPTIONAL /
    MINUS / EXISTS side, or a subquery joined into its group). A hint
    on a lone member of a top-level group or a UNION branch would
    never attach."""
    n_binding = sum(k in _BINDING_MEMBERS for k, _ in g.members)
    if not n_binding:
        raise ValueError("empty group graph pattern")
    from kgforge.session import local_df

    iri_only = _iri_only_vars(g)
    spark = triples.sparkSession
    acc: DataFrame | None = None
    maybe: set[str] = set()

    def mu0() -> DataFrame:
        # SPARQL's single empty solution μ0 — one row, no columns. The
        # carrier column lives in the reserved __dt_ namespace (the
        # tokenizer rejects such vars) and is dropped at the end.
        return local_df(spark, [(True,)], "__dt_mu0 boolean")

    for kind, i in g.members:
        joined = side or n_binding > 1 or acc is not None
        if kind == "pattern":
            pdf = _compile_pattern(triples, g.patterns[i], iri_only)
            if joined and _schema_pattern(g.patterns[i][1]):
                pdf = broadcast(pdf)
            acc, maybe = _compat_join(acc, pdf, maybe, set())
        elif kind == "union":
            udf, umaybe = _compile_union(triples, g.unions[i])
            acc, maybe = _compat_join(acc, udf, maybe, umaybe)
        elif kind == "values":
            vars_, rows = g.values[i]
            vdf = _values_df(spark, vars_, rows)
            vmaybe = {
                v for j, v in enumerate(vars_)
                if any(row[j] is None for row in rows)
            }
            # inline data is row-count-tiny by construction — broadcast
            # so the restriction join never shuffles the instance side
            # (only where it meets a join, like a schema pattern)
            if joined:
                vdf = broadcast(vdf)
            acc, maybe = _compat_join(acc, vdf, maybe, vmaybe)
        elif kind == "subquery":
            sdf, smaybe = _compile_subquery(triples, g.subqueries[i], joined)
            acc, maybe = _compat_join(acc, sdf, maybe, smaybe)
        elif kind == "bind":
            var, ex = g.binds[i]
            if acc is None:
                acc = mu0()
            # parser guarantees the target is fresh and the operands
            # are in scope; a NULL operand (optionally-bound var on a
            # non-matching row) propagates to an unbound target — the
            # spec's evaluation-error value
            acc = _apply_valexpr(acc, var, ex)
            maybe = maybe | {var}
        elif kind == "optional":
            if acc is None:
                acc = mu0()
            # OPTIONAL = left outer join at this member's position; the
            # optional side computes its OWN iri-only set (an
            # occurrence inside OPTIONAL must not restrict the outer
            # group's bindings)
            odf, omaybe = _compile_group_ex(triples, g.optionals[i], True)
            l_vars = {c for c in acc.columns if not c.startswith("__dt_")}
            r_vars = {c for c in odf.columns if not c.startswith("__dt_")}
            shared = sorted(l_vars & r_vars)
            if not shared and "__dt_mu0" not in acc.columns:
                raise ValueError(
                    "OPTIONAL sharing no variable with its group is out "
                    "of subset (would be a cartesian extension)"
                )
            cond = _compat_cond(acc.columns, odf.columns, shared, maybe, omaybe)
            joined = acc.alias("_l").join(odf.alias("_r"), cond, "left_outer")
            acc = joined.select(
                _merged_cols(acc.columns, odf.columns, shared, maybe, omaybe)
            )
            maybe = (maybe & l_vars) | (r_vars - l_vars)
        elif kind == "minus":
            if acc is None:
                # Minus(μ0, A): μ0's domain is empty — no overlap, μ0
                # survives; nothing to do until a binding member lands
                continue
            mdf, mmaybe = _compile_group_ex(triples, g.minuses[i], True)
            acc = _minus_join(acc, mdf, g.minuses[i], maybe, mmaybe)
        else:  # pragma: no cover — parser emits only the kinds above
            raise ValueError(f"unknown group member kind {kind!r}")
    assert acc is not None
    if "__dt_mu0" in acc.columns:
        acc = acc.drop("__dt_mu0")
    for negated, eg in g.exists:
        # FILTER [NOT] EXISTS — correlation on the SHARED variables:
        # left_semi (EXISTS) / left_anti (NOT EXISTS) with the same
        # dt-reconciled null-safe boundary as MINUS/OPTIONAL. Unlike
        # MINUS, NO shared variables does NOT make it a no-op: the
        # filter then degenerates to "does the inner pattern have any
        # solution at all" — every row kept or dropped together (the
        # classic disjoint-domain case where NOT EXISTS and MINUS give
        # different answers). Correlation through a variable an
        # earlier OPTIONAL left unbound (round 6) follows the spec's
        # SUBSTITUTION semantics: an unbound outer var is not
        # substituted — it stays unconstrained in the inner pattern
        # (the compat condition's NULL-matches-anything arm); bound
        # vars substitute term-exactly. All-certain correlation keeps
        # the pure null-safe equi-join plan.
        edf, emaybe = _compile_group_ex(triples, eg, True)
        _shared, rhs, cond = _correlate(acc, edf, eg, maybe, emaybe)
        acc = acc.alias("_l").join(
            rhs.alias("_r"), cond, "left_anti" if negated else "left_semi"
        )
    for f_expr in g.filters:
        acc = acc.filter(_compile_expr(f_expr, set(acc.columns)))
    return acc, maybe


def _correlate(
    acc: DataFrame, sdf: DataFrame, sg: Group,
    l_maybe: set[str], r_maybe: set[str],
) -> tuple[list[str], DataFrame, F.Column]:
    """The correlation step shared by MINUS and FILTER [NOT] EXISTS:
    (shared vars, the sub-group side cut to the shared vars and their
    shadows — broadcast when schema-only — and the compatibility
    condition). With no shared var the condition is TRUE and the side
    a one-row existence probe."""
    shared = sorted(
        c
        for c in set(acc.columns) & set(sdf.columns)
        if not c.startswith("__dt_")
    )
    if not shared:
        return shared, sdf.limit(1), F.lit(True)
    keep = shared + [
        _dt_shadow(v) for v in shared if _dt_shadow(v) in sdf.columns
    ]
    side = broadcast_if_schema_only(sg, sdf.select(keep))
    cond = _compat_cond(acc.columns, sdf.columns, shared, l_maybe, r_maybe)
    return shared, side, cond


def _minus_join(
    acc: DataFrame, mdf: DataFrame, mg: Group,
    l_maybe: set[str], r_maybe: set[str],
) -> DataFrame:
    """SPARQL MINUS at its written position. All-bound shared vars
    (the common case) keep the round-3 null-safe anti-join — every key
    an equi-key. When a shared var may be unbound on either side
    (MINUS after an OPTIONAL, or an OPTIONAL/UNDEF inside the MINUS
    side), the spec's definition applies exactly: remove μ1 when some
    μ2 is COMPATIBLE (unbound matches anything) AND the domains
    overlap on at least one var bound in both (dom-overlap guard —
    without it a μ2 sharing no bound var would wipe the row; a var
    certainly bound on both sides overlaps by itself)."""
    shared, side, cond = _correlate(acc, mdf, mg, l_maybe, r_maybe)
    if not shared:  # SPARQL MINUS with disjoint domains is a no-op
        return acc
    if all(v in l_maybe or v in r_maybe for v in shared):
        overlap = F.lit(False)
        for v in shared:
            overlap = overlap | (
                F.col(f"_l.{v}").isNotNull() & F.col(f"_r.{v}").isNotNull()
            )
        cond = cond & overlap
    return acc.alias("_l").join(side.alias("_r"), cond, "left_anti")


def broadcast_if_schema_only(g: Group, mdf: DataFrame) -> DataFrame:
    """Broadcast a MINUS side iff every pattern in it is schema-bound
    (constant schema predicate) or joins to one — heuristic: all
    constant predicates and at least one schema predicate."""
    preds = [p for _s, p, _o in g.patterns if isinstance(p, Iri)]
    if len(preds) == len(g.patterns) and any(p.value in SCHEMA_PREDS for p in preds):
        return broadcast(mdf)
    return mdf


#: datatypes whose literals compare numerically — the grammar's G11
#: numeric types (xsd:integer / xsd:float, csv2rdf-v5/csv2rdf-v5.py:
#: 47-53) plus the rest of the standard XSD numeric family a consumer
#: may add by hand
_NUMERIC_DTS = frozenset(
    XSD_NS + t
    for t in ("integer", "float", "decimal", "double", "long", "int",
              "short", "byte", "nonNegativeInteger", "positiveInteger")
)


def _operand_col(x, cols: set[str] | None = None) -> F.Column:
    if isinstance(x, (FnCall, Arith)):
        return _compile_valexpr(x, cols or set())[0]
    if isinstance(x, Var):
        if cols is not None and x.name not in cols:
            # a variable with no binding column is unbound everywhere:
            # any comparison on it is a SPARQL type error per row →
            # NULL → filtered, i.e. an empty result, not an
            # AnalysisException
            return F.lit(None).cast("string")
        return F.col(x.name)
    if isinstance(x, Iri):
        return F.lit(x.value)
    if isinstance(x, Lit):
        return F.lit(x.value)
    return F.lit(x)  # number


def _operand_numeric(x: Term | float, cols: set[str]):
    """(is-numeric Column, static truth or None-if-row-dependent) for
    a FILTER operand: bare numbers always, typed literals by their
    declared datatype, variables by their dt shadow AT EACH ROW (a var
    with no shadow bound an IRI — never numeric)."""
    if isinstance(x, float):
        return F.lit(True), True
    if isinstance(x, (FnCall, Arith)):
        # numericity rides the expression's result datatype per row
        dt = _compile_valexpr(x, cols)[1]
        return F.coalesce(dt.isin(*sorted(_NUMERIC_DTS)), F.lit(False)), None
    if isinstance(x, Lit):
        is_num = x.dt in _NUMERIC_DTS
        return F.lit(is_num), is_num
    if isinstance(x, Var):
        sh = _dt_shadow(x.name)
        if sh in cols:
            return F.col(sh).isin(*sorted(_NUMERIC_DTS)), None
        return F.lit(False), False
    return F.lit(False), False  # Iri


def _compile_expr(e: Expr, cols: set[str]) -> F.Column:
    if isinstance(e, Cmp):
        lhs, rhs = _operand_col(e.left, cols), _operand_col(e.right, cols)
        l_num, l_static = _operand_numeric(e.left, cols)
        r_num, r_static = _operand_numeric(e.right, cols)

        def _ops(left: F.Column, right: F.Column) -> F.Column:
            return {
                "=": left == right, "!=": left != right, "<": left < right,
                "<=": left <= right, ">": left > right, ">=": left >= right,
            }[e.op]

        # try_cast, not cast: a numeric-typed literal with a junk
        # lexical form is a SPARQL type error (row filtered), not an
        # ANSI runtime exception
        num_cmp = _ops(lhs.try_cast("double"), rhs.try_cast("double"))
        str_cmp = _ops(lhs, rhs)
        bare_const = isinstance(e.left, float) or isinstance(e.right, float)
        if (l_static and r_static) or bare_const:
            # both certainly numeric — or the query wrote a bare
            # number, which forces the numeric reading (pre-round-4
            # subset behavior, kept: it is what the reference's ad-hoc
            # queries rely on for untyped version literals)
            return num_cmp
        if l_static is False or r_static is False:
            return str_cmp  # a side can never be numeric
        # row-dependent: numeric when BOTH terms are numeric there
        return F.when(l_num & r_num, num_cmp).otherwise(str_cmp)
    if isinstance(e, BoolOp):
        a, b = (_compile_expr(x, cols) for x in e.args)
        return (a & b) if e.op == "and" else (a | b)
    if isinstance(e, Not):
        # SPARQL effective-boolean-value: an error (NULL from a
        # comparison on an unbound var) stays an error under negation
        # — coalesce AFTER the flip would turn errors into kept rows;
        # Spark's three-valued NOT already does the right thing
        return ~_compile_expr(e.arg, cols)
    if isinstance(e, Call):
        if e.fn == "bound":
            name = e.args[0].name
            # a var absent from the binding columns entirely is
            # statically unbound (SPARQL: bound() = false)
            if name not in cols:
                return F.lit(False)
            return F.col(name).isNotNull()
        if e.fn == "regex":
            target = _operand_col(e.args[0], cols)
            pat = e.args[1].value
            flags = e.args[2].value if len(e.args) == 3 else ""
            if "i" in flags:  # the one XPath flag the subset carries
                pat = "(?i)" + pat
            return target.rlike(pat)
        if e.fn in ("isiri", "isliteral"):
            # term-kind tests on the datatype shadow (NULL shadow =
            # IRI); an UNBOUND var is a type error (NULL → dropped,
            # and NOT flips it to dropped too, per three-valued logic)
            name = e.args[0].name
            if name not in cols:
                return F.lit(None).cast("boolean")  # statically unbound
            sh = _dt_shadow(name)
            is_iri = (
                F.col(sh).isNull() if sh in cols else F.lit(True)
            )
            kind = is_iri if e.fn == "isiri" else ~is_iri
            return F.when(F.col(name).isNull(), F.lit(None).cast("boolean")).otherwise(kind)
        if e.fn in ("strstarts", "strends", "contains"):
            # string predicates over lexical forms (round 6); a NULL
            # (unbound) operand is a SPARQL type error → NULL → row
            # dropped, same rule as comparisons
            a = _operand_col(e.args[0], cols)
            b = _operand_col(e.args[1], cols)
            if e.fn == "strstarts":
                return a.startswith(b)
            if e.fn == "strends":
                return a.endswith(b)
            return a.contains(b)
        raise ValueError(f"unknown function {e.fn!r}")
    raise ValueError(f"unknown expr {e!r}")


#: datatypes whose arithmetic stays in 64-bit integers (xsd:integer
#: and its derived types the engine carries)
_INT_DTS = frozenset(
    XSD_NS + t
    for t in ("integer", "long", "int", "short", "byte",
              "nonNegativeInteger", "positiveInteger")
)
_INT_LEX = r"^[+-]?\d+$"


def _compile_valexpr(e, cols: set[str]) -> tuple[F.Column, F.Column]:
    """Value expression (BIND / SELECT expression) → (lexical-value
    column, datatype-shadow column). The engine's term model rides
    along: dt NULL = IRI, '' = plain literal, else datatype IRI.

    Numeric rules (Arith docstring): integer×integer under +,-,*
    evaluates in 64-bit integers via try_add/try_subtract/try_multiply
    (overflow → NULL → unbound, not an ANSI runtime error) and carries
    xsd:integer; every other numeric case evaluates in double via the
    try_* family (so /0 and junk lexical forms become unbound, the
    subset's reading of the spec's type-error rule — xsd:double's
    INF-on-/0 is the one documented divergence) and carries
    xsd:double. A non-numeric operand makes the whole arithmetic
    result unbound."""
    if isinstance(e, Var):
        if e.name not in cols:
            # statically unbound: the expression errors per row →
            # target unbound (the parser rejects this inside BIND;
            # reachable from SELECT expressions over OPTIONAL vars)
            return F.lit(None).cast("string"), F.lit(None).cast("string")
        sh = _dt_shadow(e.name)
        dt = F.col(sh) if sh in cols else F.lit(None).cast("string")
        return F.col(e.name), dt
    if isinstance(e, Iri):
        return F.lit(e.value), F.lit(None).cast("string")
    if isinstance(e, Lit):
        return F.lit(e.value), F.lit(e.dt if e.dt else "")
    if isinstance(e, Arith):
        lv, ld = _compile_valexpr(e.left, cols)
        rv, rd = _compile_valexpr(e.right, cols)

        def numeric(v: F.Column, d: F.Column) -> F.Column:
            typed = F.coalesce(d.isin(*sorted(_NUMERIC_DTS)), F.lit(False))
            plain = F.coalesce(
                (d == "") & v.try_cast("double").isNotNull(), F.lit(False)
            )
            return typed | plain

        def int_like(v: F.Column, d: F.Column) -> F.Column:
            typed = F.coalesce(d.isin(*sorted(_INT_DTS)), F.lit(False))
            plain = F.coalesce((d == "") & v.rlike(_INT_LEX), F.lit(False))
            return typed | plain

        valid = numeric(lv, ld) & numeric(rv, rd)
        li, ri = lv.try_cast("long"), rv.try_cast("long")
        ldb, rdb = lv.try_cast("double"), rv.try_cast("double")
        null_s = F.lit(None).cast("string")
        if e.op == "/":
            both_int = F.lit(False)
            int_val = null_s
            dbl = F.try_divide(ldb, rdb)
        else:
            fn = {"+": F.try_add, "-": F.try_subtract, "*": F.try_multiply}[e.op]
            both_int = (
                int_like(lv, ld) & int_like(rv, rd)
                & li.isNotNull() & ri.isNotNull()
            )
            int_val = fn(li, ri).cast("string")
            dbl = fn(ldb, rdb)
        value = (
            F.when(~valid, null_s)
            .when(both_int, int_val)
            .otherwise(dbl.cast("string"))
        )
        dt = (
            F.when(value.isNull(), null_s)
            .when(both_int, F.lit(XSD_NS + "integer"))
            .otherwise(F.lit(XSD_NS + "double"))
        )
        return value, dt
    if isinstance(e, FnCall):
        plain = F.lit("")
        if e.fn == "if":
            # IF(boolean-expr, then, else) — an error (NULL) condition
            # propagates: neither branch, result unbound (spec rule)
            cond = _compile_expr(e.args[0], cols)
            tv, td = _compile_valexpr(e.args[1], cols)
            ev, ed = _compile_valexpr(e.args[2], cols)
            return F.when(cond, tv).when(~cond, ev), (
                F.when(cond, td).when(~cond, ed)
            )
        if e.fn == "coalesce":
            # first BOUND argument wins, carrying its own datatype
            pairs = [_compile_valexpr(a, cols) for a in e.args]
            value = F.coalesce(*(p[0] for p in pairs))
            dt = F.lit(None).cast("string")
            for v, d in reversed(pairs):
                dt = F.when(v.isNotNull(), d).otherwise(dt)
            return value, dt
        if e.fn == "datatype":
            # datatype of a literal term, AS AN IRI: typed literal →
            # its datatype IRI, simple literal → xsd:string (spec),
            # IRI or unbound → error (NULL)
            val, dt = _compile_valexpr(e.args[0], cols)
            out = (
                F.when(val.isNull() | dt.isNull(), F.lit(None).cast("string"))
                .when(dt == "", F.lit(XSD_NS + "string"))
                .otherwise(dt)
            )
            return out, F.lit(None).cast("string")  # result is an IRI
        vals = [_compile_valexpr(a, cols)[0] for a in e.args]
        if e.fn == "substr":
            # SPARQL/XPath 1-based positions; non-integer start/length
            # → type error → unbound (try_cast NULL propagates)
            src, pos = vals[0], vals[1].try_cast("int")
            ln = (
                vals[2].try_cast("int") if len(vals) == 3
                else F.length(src)
            )
            return src.substr(pos, ln), plain
        if e.fn == "replace":
            pat = vals[1]
            flags = e.args[3].value if len(e.args) == 4 else ""
            if "i" in flags:  # same XPath-flag subset as REGEX
                pat = F.concat(F.lit("(?i)"), pat)
            return F.regexp_replace(vals[0], pat, vals[2]), plain
        if e.fn == "concat":
            # NULL-propagating, per the spec's error rule (an unbound
            # operand makes the result unbound)
            return F.concat(*vals), plain
        if e.fn == "str":
            return vals[0], plain  # lexical form of any term
        if e.fn == "strlen":
            return F.length(vals[0]).cast("string"), F.lit(XSD_NS + "integer")
        if e.fn == "ucase":
            return F.upper(vals[0]), plain
        if e.fn == "lcase":
            return F.lower(vals[0]), plain
        raise ValueError(f"unknown value function {e.fn!r}")
    raise ValueError(f"unknown value expression {e!r}")


def _apply_valexpr(df: DataFrame, var: str, ex) -> DataFrame:
    """Bind `var` (value + dt shadow) from a value expression; an
    error (NULL value) forces the shadow NULL too, matching the
    engine's unbound representation from OPTIONAL."""
    val, dt = _compile_valexpr(ex, set(df.columns))
    df = df.withColumn(var, val)
    return df.withColumn(
        _dt_shadow(var),
        F.when(F.col(var).isNull(), F.lit(None).cast("string")).otherwise(dt),
    )


def _compile_subquery(
    triples: DataFrame, sq: "Query", side: bool = False
) -> tuple[DataFrame, set[str]]:
    """A `{ SELECT ... }` subquery member: evaluated independently
    (bottom-up, per the spec — the enclosing group's bindings do not
    reach inside), projecting ONLY its selected variables, WITH their
    datatype shadows, so the projection joins the enclosing group like
    any other binding set. Aggregate aliases carry the aggregate's
    result datatype (COUNT → xsd:integer, SUM/AVG → xsd:double,
    GROUP_CONCAT → plain literal); MIN/MAX/SAMPLE preserve the winning
    member's own datatype via a struct-agg over (value, dt). Returns
    (bindings, maybe-unbound vars) — AVG/MIN/MAX/SAMPLE aliases and
    inner maybe-unbound projections can be NULL. `side`: the projection
    meets a join in the enclosing group (see _compile_group_ex)."""
    bound, inner_maybe = _compile_group_ex(triples, sq.group, side)
    out_vars = _subquery_vars(sq)
    if sq.aggs or sq.group_by is not None:
        df = _select_aggregate(sq, bound, keep_shadows=True)
        maybe = set()
        for kind, name in sq.select_items or []:
            if kind == "agg":
                a = sq.aggs[name]
                if a.fn not in ("count", "sum", "group_concat"):
                    maybe.add(a.alias)
            elif kind == "var" and name in inner_maybe:
                maybe.add(name)
        return df, maybe
    missing = [v for v in out_vars if v not in bound.columns]
    if missing:
        raise ValueError(f"subquery SELECT of unbound variable(s) {missing}")
    shadows = [
        _dt_shadow(v) for v in out_vars if _dt_shadow(v) in bound.columns
    ]
    out = bound.select(*out_vars, *shadows)
    if sq.distinct:
        out = out.distinct()  # shadows participate: term-distinct
    return _modify(out, sq), {v for v in out_vars if v in inner_maybe}


def _select_aggregate(
    q: Query, bound: DataFrame, keep_shadows: bool = False
) -> DataFrame:
    """SELECT with aggregates / GROUP BY: grouping is TERM-based (the
    datatype shadows participate in the keys — "5" plain and
    "5"^^xsd:integer are different groups even though both print as
    "5"), then the lexical forms project. COUNT(?v) skips unbound
    (NULL) rows; COUNT(DISTINCT ?v) counts distinct TERMS; SUM/AVG
    coerce with try_cast double (non-numeric → NULL → ignored);
    MIN/MAX compare lexical forms (the subset's ordering). A projected
    plain variable must be grouped (the spec's rule); GROUP BY with no
    aggregates degenerates to one row per group.

    keep_shadows (round 6, the subquery path): the output keeps each
    grouped var's datatype shadow and adds one per aggregate alias
    (COUNT → xsd:integer, SUM/AVG → xsd:double, GROUP_CONCAT → plain;
    MIN/MAX/SAMPLE carry the winning member's own datatype via a
    struct-agg), and aggregate values are cast to their string lexical
    forms — the engine's binding representation."""
    gb = q.group_by or []
    missing = [v for v in gb if v not in bound.columns]
    if missing:
        raise ValueError(f"GROUP BY on unbound variable(s) {missing}")
    plain = [name for kind, name in q.select_items if kind == "var"]
    bad = [v for v in plain if v not in gb]
    if bad:
        raise ValueError(
            f"non-grouped variable(s) {bad} projected next to aggregates"
        )
    keys: list[str] = []
    for v in gb:
        keys.append(v)
        if _dt_shadow(v) in bound.columns:
            keys.append(_dt_shadow(v))

    #: aggregates whose winning MEMBER's datatype carries through —
    #: under keep_shadows they aggregate (value, dt) structs
    _TERM_AGGS = ("min", "max", "sample")

    def agg_col(a: Agg) -> F.Column:
        if a.fn == "count" and a.var is None:
            return F.count(F.lit(1)).cast("bigint")
        assert a.var is not None
        if a.var not in bound.columns:
            # statically-unbound var: COUNT = 0, others = NULL (a
            # SPARQL evaluation error aggregates to the empty value)
            v = F.lit(None).cast("string")
        else:
            v = F.col(a.var)
        if a.fn == "count":
            if a.distinct:
                sh = _dt_shadow(a.var) if a.var in bound.columns else None
                term = (
                    F.struct(v, F.col(sh)) if sh and sh in bound.columns
                    else F.struct(v)
                )
                # when() gates unbound rows out: a struct with NULL
                # fields is still a non-NULL struct and would count
                return F.count_distinct(F.when(v.isNotNull(), term)).cast("bigint")
            return F.count(v).cast("bigint")
        if a.fn == "sum":
            return F.coalesce(F.sum(v.try_cast("double")), F.lit(0.0))
        if a.fn == "avg":
            # all-non-numeric / all-unbound group -> NULL (the spec's
            # error value); numeric coercion identical to SUM
            return F.avg(v.try_cast("double"))
        if a.fn in _TERM_AGGS:
            if keep_shadows:
                sh = (
                    F.col(_dt_shadow(a.var))
                    if a.var in bound.columns
                    and _dt_shadow(a.var) in bound.columns
                    else F.lit(None).cast("string")
                )
                # NULL-gated struct: F.min/max skip NULL, matching the
                # plain form's unbound-skipping; (value, dt) ordering
                # keeps the VALUE winner identical to the plain form
                term = F.when(v.isNotNull(), F.struct(v.alias("v"), sh.alias("d")))
                return F.max(term) if a.fn == "max" else F.min(term)
            # spec: SAMPLE is any member; engine: the MINIMUM lexical
            # form, so results are deterministic (and oracle-checkable)
            return F.max(v) if a.fn == "max" else F.min(v)
        if a.fn == "group_concat":
            # spec leaves member order undefined; the engine
            # canonicalizes ascending (determinism ban on unordered
            # collect) — oracle: string_agg(... ORDER BY ...)
            members = F.collect_set(v) if a.distinct else F.collect_list(v)
            return F.array_join(F.array_sort(members), a.sep)
        raise ValueError(f"unsupported aggregate {a.fn!r}")

    exprs = [agg_col(a).alias(a.alias) for a in q.aggs]
    if exprs:
        grouped = bound.groupBy(*keys).agg(*exprs) if keys else bound.agg(*exprs)
    else:  # GROUP BY with no aggregates: one row per group
        grouped = bound.select(*keys).distinct()
    if keep_shadows:
        # unpack term-agg structs and stamp each alias's result
        # datatype shadow; values become string lexical forms
        _AGG_DT = {
            "count": XSD_NS + "integer",
            "sum": XSD_NS + "double",
            "avg": XSD_NS + "double",
            "group_concat": "",
        }
        for a in q.aggs:
            c = F.col(a.alias)
            if a.fn in _TERM_AGGS:
                grouped = grouped.withColumn(
                    _dt_shadow(a.alias), c.getField("d")
                ).withColumn(a.alias, c.getField("v"))
            else:
                dt = F.lit(_AGG_DT[a.fn])
                grouped = grouped.withColumn(
                    _dt_shadow(a.alias),
                    F.when(c.isNotNull(), dt),
                ).withColumn(a.alias, c.cast("string"))
    if q.having is not None:
        # HAVING filters the grouped solutions; operands are grouped
        # vars and aggregate aliases (numeric columns compare
        # numerically — a bare-number comparand forces the numeric
        # reading in _compile_expr)
        grouped = grouped.filter(_compile_expr(q.having, set(grouped.columns)))
    out_cols = [
        name if kind == "var" else q.aggs[name].alias
        for kind, name in q.select_items
    ]
    if keep_shadows:
        out_cols = out_cols + [
            _dt_shadow(c) for c in out_cols if _dt_shadow(c) in grouped.columns
        ]
    return _modify(grouped, q, out_cols)


def _modify(
    df: DataFrame, q: Query, project: list[str] | None = None
) -> DataFrame:
    """The solution modifiers: ORDER BY, then the optional projection
    (a projection preserves sort order, so keys need not be
    projected), then OFFSET and LIMIT. With an ORDER BY a LIMIT plans
    as TakeOrderedAndProject — no global sort materialization."""
    if q.order:
        missing = [v for v, _ in q.order if v not in df.columns]
        if missing:
            raise ValueError(
                f"ORDER BY on unavailable variable(s) {missing}"
                + (" (DISTINCT restricts sort keys to projected vars)"
                   if q.distinct else "")
            )
        df = df.orderBy(
            *[F.col(v).desc() if d else F.col(v).asc() for v, d in q.order]
        )
    if project is not None:
        df = df.select(*project)
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


# --------------------------------------------------------------------
# public API
# --------------------------------------------------------------------


def sparql(triples: DataFrame, query: str) -> DataFrame:
    """Run a SPARQL query (see module docstring for the subset) over a
    (subj, pred, obj, obj_dt) triple table.

    SELECT -> one column per projected variable (lexical values).
    CONSTRUCT / INSERT -> a deduped triple DataFrame (for INSERT, pass
    the result to `insert()` to union it back into the table).
    """
    q = parse(query)
    if q.form == "describe":
        return _describe_df(triples, q)
    bound = _compile_group(triples, q.group)

    if q.form == "ask":
        from kgforge.session import bounded_arrow, local_df

        # one row, one boolean column; the bounded probe fetches at most
        # one solution in one job (None: more than 0 rows, so true),
        # where limit(1).count() fired two
        probe = bounded_arrow(bound, 0) is None
        return local_df(triples.sparkSession, [(probe,)], "ask boolean")

    if q.form == "select" and (q.aggs or q.group_by is not None):
        return _select_aggregate(q, bound)

    if q.form == "select":
        if q.exprs:
            # SELECT expressions: spec-equivalent to a BIND appended
            # after the group (the alias is fresh — parser-enforced
            # against other projection items, here against the group's
            # own variables)
            clash = [a for a, _ in q.exprs if a in bound.columns]
            if clash:
                raise ValueError(
                    f"SELECT expression alias(es) {clash} already bound "
                    "in the group (spec: must be fresh)"
                )
            for alias, ex in q.exprs:
                bound = _apply_valexpr(bound, alias, ex)
            out_vars = [
                name if kind == "var" else q.exprs[name][0]
                for kind, name in q.select_items
            ]
        else:
            out_vars = q.select_vars
        if out_vars is None:
            out_vars = [c for c in bound.columns if not c.startswith("__dt_")]
        missing = [v for v in out_vars if v not in bound.columns]
        if missing:
            raise ValueError(f"SELECT of unbound variable(s) {missing}")
        if not q.distinct:
            return _modify(bound, q, out_vars)
        # spec: DISTINCT applies to the projected SOLUTIONS — terms,
        # not lexical forms: the dt shadows participate in the
        # distinct then drop ("5" plain vs "5"^^xsd:integer stay two
        # rows). ORDER BY may then only use projected variables.
        shadows = [
            _dt_shadow(v) for v in out_vars if _dt_shadow(v) in bound.columns
        ]
        out = bound.select(*out_vars, *shadows).distinct().select(*out_vars)
        return _modify(out, q)

    # CONSTRUCT: instantiate the template per binding row, union, dedup
    assert q.template, "CONSTRUCT requires a template"
    for _ts, tp, _to in q.template:
        if isinstance(tp, PATH_TYPES):
            raise ValueError(
                "property paths are not valid in CONSTRUCT/INSERT templates"
            )
    # solution modifiers act on the binding sequence BEFORE template
    # instantiation (the instantiated graph is still a set)
    bound = _modify(bound, q)
    null_dt = F.lit(None).cast("string")
    parts: list[DataFrame] = []
    for s, p, o in q.template:

        def val(term: Term) -> F.Column:
            if isinstance(term, Var):
                if term.name not in bound.columns:
                    raise ValueError(f"template var ?{term.name} unbound")
                return F.col(term.name)
            if isinstance(term, Iri):
                return F.lit(term.value)
            return F.lit(term.value)

        # the SPARQL ill-formed-triple rule, applied PER template
        # triple: a solution whose binding for THIS triple's subject/
        # predicate var is a literal skips only this instantiation —
        # its other template triples still materialize (round-3 advice:
        # the old whole-binding-set pre-filter dropped those too)
        part = bound
        for t in (s, p):
            if isinstance(t, Var) and _dt_shadow(t.name) in bound.columns:
                part = part.filter(F.col(_dt_shadow(t.name)).isNull())
        for t in (s, p, o):
            # a var left unbound by OPTIONAL skips this instantiation
            if isinstance(t, Var) and t.name in bound.columns:
                part = part.filter(F.col(t.name).isNotNull())
        if isinstance(o, Var) and _dt_shadow(o.name) in bound.columns:
            o_dt = F.col(_dt_shadow(o.name))
        elif isinstance(o, Lit):
            o_dt = F.lit(o.dt if o.dt else "")
        else:
            o_dt = null_dt
        parts.append(
            part.select(
                val(s).alias("subj"),
                val(p).alias("pred"),
                val(o).alias("obj"),
                o_dt.alias("obj_dt"),
            )
        )
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out.dropDuplicates(TRIPLE_FIELDS)


def _describe_df(triples: DataFrame, q: Query) -> DataFrame:
    """DESCRIBE → the deduped set of OUTGOING triples of every
    described node: distinct IRI bindings of the target vars (literal
    bindings are not describable subjects — filtered by their datatype
    shadow) plus the constant targets, semi-joined against the triple
    table on subj. Output shape = (subj, pred, obj, obj_dt), the same
    graph shape as CONSTRUCT."""
    from kgforge.session import local_df

    nodes: DataFrame | None = None
    vars_ = [t.name for t in q.describe if isinstance(t, Var)]
    if vars_:
        bound = _compile_group(triples, q.group)
        parts = []
        for v in vars_:
            df_v = bound.filter(F.col(v).isNotNull())
            sh = _dt_shadow(v)
            if sh in bound.columns:  # keep IRI terms only
                df_v = df_v.filter(F.col(sh).isNull())
            parts.append(df_v.select(F.col(v).alias("node")))
        nodes = parts[0]
        for p in parts[1:]:
            nodes = nodes.unionByName(p)
    consts = sorted({t.value for t in q.describe if isinstance(t, Iri)})
    if consts:
        cdf = local_df(
            triples.sparkSession, [(c,) for c in consts], "node string"
        )
        nodes = cdf if nodes is None else nodes.unionByName(cdf)
    assert nodes is not None  # parser guarantees ≥1 target
    out = (
        triples.alias("_t")
        .join(
            nodes.distinct().alias("_n"),
            F.col("_t.subj") == F.col("_n.node"),
            "left_semi",
        )
        .select(*TRIPLE_FIELDS)
        .dropDuplicates(TRIPLE_FIELDS)
    )
    return out


def insert(triples: DataFrame, query: str) -> DataFrame:
    """INSERT { template } WHERE { ... }: the source table plus the
    constructed triples, globally deduped (one shuffle on the full
    triple key — same shape as the orchestrator's A4 dedup)."""
    derived = sparql(triples, query)
    return (
        triples.select(*TRIPLE_FIELDS)
        .unionByName(derived)
        .dropDuplicates(TRIPLE_FIELDS)
    )
