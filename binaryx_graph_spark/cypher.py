"""Cypher-subset compiler: the reference's query language, compiled to
DataFrame plans (reference queries throughout src/neo4j/importer.rs and
src/neo4j/call_path_analyzer.rs are written in exactly this subset).

A user of the reference can paste their Cypher and run it on this
engine: labels map to the node tables, relationship types to the edge
tables, and the MATCH chain compiles to equi-joins Catalyst optimizes
like any hand-written DataFrame plan (broadcast dimensions, pushed
filters — the compiler emits plain `filter`/`join`/`select`, nothing
opaque).

Supported subset (documented; reject-loudly beyond it):

- ``MATCH`` / restricted ``OPTIONAL MATCH`` (anchored on a bound variable,
  left-join semantics) linear patterns ``(a:Label {prop: lit})-[r:TYPE]->(b:...)``
  with ``<-`` direction, multi-type edges ``[:CONTAINS|IMPORTS]``,
  anonymous nodes/edges, and multiple MATCH clauses joined on shared
  variables
- LABEL-LESS nodes ``(n)`` (match every node table; expose ``.key`` /
  ``.label`` pseudo-properties only) and UNTYPED edges ``[r]`` (every
  relationship; ``type(r)`` / ``r.type``), enough to run the
  reference's export query verbatim:
  ``MATCH (n) OPTIONAL MATCH (n)-[r]->(m) RETURN n, type(r), m``.
  A typed edge cannot attach to an any-label variable (fails loudly)
- variable-length ``[:CALLS*min..max]`` with Cypher's one-row-per-
  relationship-unique-PATH multiplicity (``p = (a)-[:CALLS*..]->(b)``
  additionally exposes nodes(p)/relationships(p)/length(p)); when the
  consuming clause is DISTINCT or count(DISTINCT) — provably blind to
  multiplicity — the compiler swaps in the cheap DISTINCT-endpoint-
  pairs BFS instead of full path enumeration
- ``WHERE`` with AND/OR/NOT, parentheses, ``=``, ``<>``, ``<``, ``<=``,
  ``>``, ``>=``, ``CONTAINS``, ``STARTS WITH``, ``ENDS WITH`` over
  ``var.prop`` against literals or ``$params``
- ``RETURN [DISTINCT] var.prop [AS alias] | var | count(*) | count(x)
  | count(DISTINCT x) | sum/min/max/avg(var[.prop]) | collect(x)``
  (a bare ``var`` expands to all its properties as ``var_prop``);
  aggregates use Cypher's IMPLICIT grouping — the non-aggregate items
  are the group keys — and work identically in ``WITH`` (aliased),
  where a following ``WHERE`` over an aggregate alias is HAVING
- ``ORDER BY`` (aliases or var.prop, ASC/DESC), ``SKIP n``, ``LIMIT n``
  — in RETURN and in WITH (pagination applies to the grouped rows
  before any later clause sees them; differential fuzz:
  tests/test_cypher_agg_properties.py)

Label/relationship mapping (FIXTURES.md §1-2; importer.rs:143-260):

    Binary→binaries(hash) Function→functions(uid) String→strings(uid)
    Library→libraries(name)
    CONTAINS/IMPORTS: Binary→Function      CALLS: Function→Function
    IMPORTS_LIBRARY: Binary→Library        BELONGS_TO: Function→Library
    CONTAINS_STRING: Binary→String
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .plans.lineage import frontier_levels

# ---------------------------------------------------------------- schema map

NODE_LABELS: dict[str, tuple[str, str]] = {
    # label -> (table, key column)
    "Binary": ("binaries", "hash"),
    "Function": ("functions", "uid"),
    "String": ("strings", "uid"),
    "Library": ("libraries", "name"),
}

#: pseudo-label for nodes matched without a label — (n) matches every
#: node table; such variables expose `.key` / `.label` pseudo-properties
ANY = "*"

#: pseudo-label for scalar-valued variables (the fulltext CALL's
#: ``score``) — a single value column, no properties
SCALAR = "@scalar"

EDGE_TYPES: dict[str, tuple[str, str, str, str, str]] = {
    # type -> (table, src label, src col, dst label, dst col)
    "CONTAINS": ("contains", "Binary", "binary_hash", "Function", "function_uid"),
    "IMPORTS": ("imports", "Binary", "binary_hash", "Function", "function_uid"),
    "IMPORTS_LIBRARY": ("imports_library", "Binary", "binary_hash", "Library", "library_name"),
    "BELONGS_TO": ("belongs_to", "Function", "function_uid", "Library", "library_name"),
    "CALLS": ("calls", "Function", "src_uid", "Function", "dst_uid"),
    "CONTAINS_STRING": ("contains_string", "Binary", "binary_hash", "String", "string_uid"),
}

# ------------------------------------------------------------------ tokens

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<param>\$[A-Za-z_][A-Za-z0-9_]*)
      | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<sym><>|<=|>=|<-|->|\.\.|\+=|[()\[\]{}:,.*=<>|+-])
    )""",
    re.VERBOSE,
)

_KEYWORDS = {
    "MATCH", "OPTIONAL", "WHERE", "RETURN", "ORDER", "BY", "LIMIT", "AS",
    "AND", "OR", "NOT", "DISTINCT", "CONTAINS", "STARTS", "ENDS", "WITH",
    "ASC", "DESC", "COUNT",
}


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise ValueError(f"cypher: cannot tokenize at: {text[pos:pos + 30]!r}")
        pos = m.end()
        kind = m.lastgroup
        val = m.group(m.lastgroup)
        if kind == "word" and val.upper() in _KEYWORDS:
            # keep the original spelling: keyword-colliding words are
            # also legal aliases/types (`as count`, `[:CONTAINS]`)
            out.append(("kw", val))
        else:
            out.append((kind, val))
    return out


# --------------------------------------------------------------------- AST


@dataclass
class NodePat:
    var: str  # generated name if anonymous
    label: str | None
    props: dict[str, object] = field(default_factory=dict)


@dataclass
class EdgePat:
    var: str | None
    types: list[str]
    direction: str  # '->' or '<-'
    varlen: tuple[int, int] | None = None
    props: dict[str, object] = field(default_factory=dict)


@dataclass
class Pattern:
    nodes: list[NodePat]
    edges: list[EdgePat]
    optional: bool = False
    path_var: str | None = None  # MATCH path = (...) — per-path rows
    unwind: tuple[str, list] | None = None  # UNWIND $list AS alias
    shortest: bool = False  # p = shortestPath((a)-[:CALLS*lo..hi]->(b))
    where: object | None = None  # clause-scoped WHERE (OPTIONAL MATCH only)


@dataclass
class Ref:
    """A variable reference on the RIGHT side of a comparison —
    ``var.prop`` or a bare scalar (WITH alias / YIELD score)."""

    var: str
    prop: str | None


@dataclass
class Comparison:
    left: tuple[str, str | None]  # (var, prop); prop None = bare scalar
    op: str
    right: object  # literal value or Ref


@dataclass
class BoolExpr:
    op: str  # 'and' | 'or' | 'not'
    args: list


@dataclass
class ExistsPat:
    """``EXISTS((a)-[:T|T2]->(b))`` — membership of a bound node pair in
    the union of the listed edge tables (call_path_analyzer.rs:34,125)."""

    src_var: str
    types: list[str]
    dst_var: str


@dataclass
class AllScoped:
    """``ALL(n IN nodes(path) WHERE EXISTS((b)-[:T|T2]->(n)))`` — every
    node on the path is inside ``b``'s scope; lowered into per-scope
    edge-constrained path enumeration (call_path_analyzer.rs:34,298)."""

    iter_var: str
    path_var: str
    scope_var: str
    types: list[str]


@dataclass
class AllRelPred:
    """``ALL(r IN relationships(p) WHERE r.call_type = 'Direct' [AND …])``
    — every relationship on a var-length path satisfies an edge-property
    predicate (the reference's per-binary path variant,
    call_path_analyzer.rs:34).  Lowered into a filter on the edge frame
    BEFORE the frontier loop: since EVERY path edge must pass, pruning
    the edge list is exactly equivalent and kills non-conforming paths
    at the level they would take the edge, not post-hoc over arrays."""

    iter_var: str
    path_var: str
    pred: object  # BoolExpr/Comparison tree over iter_var.prop vs literals


@dataclass
class ReturnItem:
    # 'prop' | 'node' | 'count_star' | 'count_var' | 'count_distinct_var'
    # | 'path' | 'path_len' | 'path_nodes_prop' | 'path_rels_prop' | 'col'
    kind: str
    var: str | None
    prop: str | None
    alias: str | None


@dataclass
class FulltextCall:
    """``CALL db.index.fulltext.queryNodes(index, $q) YIELD node, score``
    (importer.rs:385-401) — binds ``node`` to scored String rows."""

    index: str
    pattern: str
    node_var: str
    score_var: str


@dataclass
class WithStage:
    """One ``MATCH ... WITH items [WHERE pred]`` pipeline segment: the
    carried items become the working row set for the next segment
    (Cypher's horizon operator).  Restricted: items are bare node
    variables (carried whole), ``var.prop AS alias`` scalars, and
    aggregates with aliases; aggregates trigger Cypher's implicit
    grouping; the WHERE after WITH filters the projected rows (HAVING
    semantics over aggregates)."""

    patterns: list[Pattern]
    where: object | None
    distinct: bool
    items: list[ReturnItem]
    with_where: object | None
    order: list[tuple[str, bool]] = field(default_factory=list)
    skip: int = 0
    limit: int | None = None


@dataclass
class Query:
    patterns: list[Pattern]
    where: object | None
    distinct: bool
    items: list[ReturnItem]
    order: list[tuple[str, bool]]  # (alias or var.prop text, ascending)
    limit: int | None
    skip: int = 0
    fulltext: FulltextCall | None = None
    subunion: list["Query"] | None = None  # CALL { q1 UNION q2 } RETURN ...
    stages: list[WithStage] = field(default_factory=list)  # WITH pipeline


class CypherParser:
    def __init__(self, text: str, params: dict | None = None):
        self.toks = _tokenize(text)
        self.pos = 0
        self.params = params or {}
        self._anon = 0

    # --- token helpers
    def _peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else (None, None)

    def _next(self):
        t = self.toks[self.pos]
        self.pos += 1
        return t

    @staticmethod
    def _tok_eq(kind: str, v: str, val: str) -> bool:
        # keyword tokens keep their source spelling; match case-blind
        return v.upper() == val.upper() if kind == "kw" else v == val

    def _expect(self, kind, val=None):
        k, v = self._next()
        if k != kind or (val is not None and not self._tok_eq(kind, v, val)):
            raise ValueError(f"cypher: expected {val or kind}, got {v!r}")
        return v

    def _accept(self, kind, val=None) -> bool:
        k, v = self._peek()
        if k == kind and (val is None or self._tok_eq(kind, v, val)):
            self._next()
            return True
        return False

    def _fresh(self) -> str:
        self._anon += 1
        return f"_anon{self._anon}"

    def _name(self) -> str:
        """An identifier position that may collide with a keyword —
        relationship types like CONTAINS are also WHERE operators."""
        k, v = self._next()
        if k in ("word", "kw"):
            return v
        raise ValueError(f"cypher: expected name, got {v!r}")

    def _peek_word(self, *names: str) -> bool:
        k, v = self._peek()
        return k == "word" and v.upper() in names

    def _accept_word(self, *names: str) -> bool:
        if self._peek_word(*names):
            self._next()
            return True
        return False

    # --- grammar
    def parse(self) -> Query:
        fulltext = None
        patterns = []
        if self._peek_word("CALL"):
            self._next()
            if self._accept("sym", "{"):
                return self._call_union()
            fulltext = self._fulltext_call()
        wheres: list = []
        stages: list[WithStage] = []

        def fold(ws):
            out = None
            for w in ws:
                out = w if out is None else BoolExpr("and", [out, w])
            return out

        while True:
            if self._accept("kw", "OPTIONAL"):
                self._expect("kw", "MATCH")
                pat = self._pattern()
                pat.optional = True
                patterns.append(pat)
            elif self._accept("kw", "MATCH"):
                patterns.append(self._match_pattern())
            elif self._peek_word("UNWIND"):
                self._next()
                val = self._literal()
                if not self._accept("kw", "AS"):
                    raise ValueError("cypher: UNWIND needs AS alias")
                alias = self._name()
                if not isinstance(val, (list, tuple)):
                    raise ValueError("cypher: UNWIND expects a list parameter ($param)")
                patterns.append(Pattern([], [], unwind=(alias, list(val))))
            elif self._accept("kw", "WITH"):
                distinct = self._accept("kw", "DISTINCT")
                items = [self._return_item()]
                while self._accept("sym", ","):
                    items.append(self._return_item())
                order: list[tuple[str, bool]] = []
                if self._accept("kw", "ORDER"):
                    self._expect("kw", "BY")
                    order.append(self._order_item())
                    while self._accept("sym", ","):
                        order.append(self._order_item())
                skip = self._skip()
                limit = self._limit()
                with_where = self._where() if self._accept("kw", "WHERE") else None
                stages.append(
                    WithStage(
                        patterns, fold(wheres), distinct, items, with_where,
                        order=order, skip=skip, limit=limit,
                    )
                )
                patterns, wheres = [], []
                continue
            else:
                break
            # Cypher scopes a WHERE to its clause.  For inner-join MATCH
            # patterns filtering after all matches is equivalent, so
            # those clauses AND together; a WHERE after an OPTIONAL
            # MATCH attaches to THAT pattern and filters the optional
            # rows BEFORE the left join (faithful clause scoping —
            # unmatched rows keep their NULLs instead of being dropped)
            if self._accept("kw", "WHERE"):
                w = self._where()
                if patterns and patterns[-1].optional:
                    prev = patterns[-1].where
                    patterns[-1].where = w if prev is None else BoolExpr("and", [prev, w])
                else:
                    wheres.append(w)
        if not patterns and fulltext is None and not stages:
            raise ValueError("cypher: query must start with MATCH or CALL")
        where = fold(wheres)
        self._expect("kw", "RETURN")
        distinct = self._accept("kw", "DISTINCT")
        items = [self._return_item()]
        while self._accept("sym", ","):
            items.append(self._return_item())
        order: list[tuple[str, bool]] = []
        if self._accept("kw", "ORDER"):
            self._expect("kw", "BY")
            order.append(self._order_item())
            while self._accept("sym", ","):
                order.append(self._order_item())
        skip = self._skip()
        limit = self._limit()
        k, v = self._peek()
        if k is not None:
            raise ValueError(f"cypher: trailing input at {v!r}")
        return Query(
            patterns, where, distinct, items, order, limit, skip=skip,
            fulltext=fulltext, stages=stages,
        )

    def _skip(self) -> int:
        """Optional ``SKIP n`` (row offset before LIMIT)."""
        if not self._accept_word("SKIP"):
            return 0
        k, _v = self._peek()
        if k == "param":
            val = self._literal()
            if not isinstance(val, int):
                raise ValueError("cypher: SKIP parameter must be an integer")
            return val
        return int(self._expect("num"))

    def _limit(self) -> int | None:
        if not self._accept("kw", "LIMIT"):
            return None
        k, _v = self._peek()
        if k == "param":
            val = self._literal()
            if not isinstance(val, int):
                raise ValueError("cypher: LIMIT parameter must be an integer")
            return val
        return int(self._expect("num"))

    def _fulltext_call(self) -> FulltextCall:
        """``db.index.fulltext.queryNodes('index', $q) YIELD node, score``."""
        for part in ("db", "index", "fulltext"):
            if self._name() != part:
                raise ValueError("cypher: CALL supports db.index.fulltext.queryNodes only")
            self._expect("sym", ".")
        if self._name() != "queryNodes":
            raise ValueError("cypher: CALL supports db.index.fulltext.queryNodes only")
        self._expect("sym", "(")
        index = self._literal()
        self._expect("sym", ",")
        pattern = self._literal()
        self._expect("sym", ")")
        if not self._accept_word("YIELD"):
            raise ValueError("cypher: CALL ... must YIELD node, score")
        node_var = self._expect("word")
        self._expect("sym", ",")
        score_var = self._expect("word")
        if index != "string_value_fulltext":
            raise ValueError(
                f"cypher: unknown fulltext index {index!r} "
                "(the engine maintains 'string_value_fulltext' over String.value)"
            )
        return FulltextCall(str(index), str(pattern), node_var, score_var)

    def _call_union(self) -> Query:
        """``CALL { q1 UNION q2 } RETURN [DISTINCT] col, ... [ORDER BY/LIMIT]``
        — the xref query device (importer.rs:554-570).  Branch queries are
        full MATCH...RETURN queries; the outer RETURN references the
        branches' output column names."""
        branches: list[Query] = []
        while True:
            branches.append(self._call_branch())
            if self._accept_word("UNION"):
                continue
            self._expect("sym", "}")
            break
        self._expect("kw", "RETURN")
        distinct = self._accept("kw", "DISTINCT")

        def _col() -> ReturnItem:
            it = ReturnItem("col", self._name(), None, None)
            if self._accept("kw", "AS"):
                it.alias = self._name()
            return it

        items = [_col()]
        while self._accept("sym", ","):
            items.append(_col())
        order: list[tuple[str, bool]] = []
        if self._accept("kw", "ORDER"):
            self._expect("kw", "BY")
            order.append(self._order_item())
            while self._accept("sym", ","):
                order.append(self._order_item())
        limit = self._limit()
        k, v = self._peek()
        if k is not None:
            raise ValueError(f"cypher: trailing input at {v!r}")
        return Query([], None, distinct, items, order, limit, subunion=branches)

    def _call_branch(self) -> Query:
        """Parse one CALL-branch query; stops at UNION or the closing brace."""
        patterns = []
        wheres: list = []
        while self._accept("kw", "MATCH"):
            patterns.append(self._match_pattern())
            if self._accept("kw", "WHERE"):
                wheres.append(self._where())
        if not patterns:
            raise ValueError("cypher: CALL branch must start with MATCH")
        where = None
        for w in wheres:
            where = w if where is None else BoolExpr("and", [where, w])
        self._expect("kw", "RETURN")
        distinct = self._accept("kw", "DISTINCT")
        items = [self._return_item()]
        while self._accept("sym", ","):
            items.append(self._return_item())
        return Query(patterns, where, distinct, items, [], None)

    def _match_pattern(self) -> Pattern:
        # `path = (...)` prefix names the pattern → per-path rows
        path_var = None
        shortest = False
        k, v = self._peek()
        if k == "word" and self.pos + 1 < len(self.toks) and self.toks[self.pos + 1] == ("sym", "="):
            path_var = self._next()[1]
            self._next()
        if self._peek_word("SHORTESTPATH"):
            self._next()
            self._expect("sym", "(")
            shortest = True
        pat = self._pattern()
        if shortest:
            self._expect("sym", ")")
            if path_var is None:
                raise ValueError("cypher: shortestPath(...) must be bound: p = shortestPath(...)")
        pat.path_var = path_var
        pat.shortest = shortest
        return pat

    def _pattern(self) -> Pattern:
        nodes = [self._node()]
        edges: list[EdgePat] = []
        while self._peek() == ("sym", "-") or self._peek() == ("sym", "<-"):
            edges.append(self._edge())
            nodes.append(self._node())
        return Pattern(nodes, edges)

    def _node(self) -> NodePat:
        self._expect("sym", "(")
        var, label = None, None
        k, v = self._peek()
        if k == "word":
            var = self._next()[1]
        if self._accept("sym", ":"):
            label = self._expect("word")
            if label not in NODE_LABELS:
                raise ValueError(f"cypher: unknown label :{label}")
        props: dict[str, object] = {}
        if self._accept("sym", "{"):
            while True:
                p = self._expect("word")
                self._expect("sym", ":")
                props[p] = self._literal()
                if not self._accept("sym", ","):
                    break
            self._expect("sym", "}")
        self._expect("sym", ")")
        return NodePat(var or self._fresh(), label, props)

    def _edge(self) -> EdgePat:
        # '<-[:T]-'  or  '-[:T]->'  (or undirected '-[:T]-' → rejected)
        back = self._accept("sym", "<-")
        if not back:
            self._expect("sym", "-")
        var, types, varlen, eprops = None, [], None, {}
        if self._accept("sym", "["):
            k, v = self._peek()
            if k == "word":
                var = self._next()[1]
            if self._accept("sym", ":"):
                types.append(self._name())
                while self._accept("sym", "|"):
                    self._accept("sym", ":")  # Cypher allows |:T and |T
                    types.append(self._name())
            if self._accept("sym", "*"):
                lo = int(self._expect("num"))
                self._expect("sym", "..")
                hi = int(self._expect("num"))
                varlen = (lo, hi)
            if self._accept("sym", "{"):
                while True:
                    p = self._expect("word")
                    self._expect("sym", ":")
                    eprops[p] = self._literal()
                    if not self._accept("sym", ","):
                        break
                self._expect("sym", "}")
            self._expect("sym", "]")
        if back:
            self._expect("sym", "-")
            direction = "<-"
        else:
            if self._accept("sym", "->"):
                direction = "->"
            else:
                raise ValueError(
                    "cypher: undirected relationships are not supported (use -> or <-)"
                )
        # empty types = ANY relationship (the export-query device);
        # variable length still needs the explicit :CALLS
        for t in types:
            if t not in EDGE_TYPES:
                raise ValueError(f"cypher: unknown relationship type :{t}")
        if varlen and (len(types) != 1 or types[0] != "CALLS"):
            raise ValueError("cypher: variable length is supported for :CALLS only")
        if eprops and (varlen or len(types) != 1):
            raise ValueError("cypher: edge property maps need a single concrete type")
        return EdgePat(var, types, direction, varlen, eprops)

    def _literal(self):
        k, v = self._next()
        if k == "str":
            return re.sub(r"\\(.)", r"\1", v[1:-1])
        if k == "num":
            return float(v) if "." in v else int(v)
        if k == "param":
            name = v[1:]
            if name not in self.params:
                raise ValueError(f"cypher: missing parameter ${name}")
            return self.params[name]
        raise ValueError(f"cypher: expected literal, got {v!r}")

    # WHERE grammar: or_expr
    def _where(self):
        return self._or()

    def _or(self):
        left = self._and()
        while self._accept("kw", "OR"):
            left = BoolExpr("or", [left, self._and()])
        return left

    def _and(self):
        left = self._unary()
        while self._accept("kw", "AND"):
            left = BoolExpr("and", [left, self._unary()])
        return left

    def _unary(self):
        if self._accept("kw", "NOT"):
            return BoolExpr("not", [self._unary()])
        if self._peek_word("EXISTS"):
            self._next()
            return self._exists()
        if self._peek_word("ALL"):
            self._next()
            return self._all_scoped()
        if self._accept("sym", "("):
            inner = self._or()
            self._expect("sym", ")")
            return inner
        return self._comparison()

    def _exists(self) -> ExistsPat:
        """``EXISTS((a)-[:T|T2]->(b))`` over two bound variables."""
        self._expect("sym", "(")
        src = self._node()
        edge = self._edge()
        dst = self._node()
        self._expect("sym", ")")
        if edge.varlen or not edge.types or edge.direction != "->":
            raise ValueError(
                "cypher: EXISTS supports a single typed forward edge "
                "((a)-[:T|T2]->(b)) between bound variables"
            )
        for n in (src, dst):
            if n.props or n.var.startswith("_anon"):
                raise ValueError("cypher: EXISTS endpoints must be plain bound variables")
        return ExistsPat(src.var, edge.types, dst.var)

    def _all_scoped(self) -> AllScoped | AllRelPred:
        """``ALL(n IN nodes(path) WHERE EXISTS((b)-[:T|T2]->(n)))`` or
        ``ALL(r IN relationships(path) WHERE r.prop = lit [AND …])``
        (call_path_analyzer.rs:34 uses both shapes in one WHERE)."""
        self._expect("sym", "(")
        iter_var = self._expect("word")
        if not self._accept_word("IN"):
            raise ValueError("cypher: ALL(var IN nodes(path) WHERE ...) expected")
        src = self._name()
        if src not in ("nodes", "relationships"):
            raise ValueError("cypher: ALL iterates nodes(path) or relationships(path)")
        self._expect("sym", "(")
        path_var = self._expect("word")
        self._expect("sym", ")")
        self._expect("kw", "WHERE")
        if src == "relationships":
            pred = self._or()
            self._expect("sym", ")")
            self._validate_rel_pred(pred, iter_var)
            return AllRelPred(iter_var, path_var, pred)
        if not self._accept_word("EXISTS"):
            raise ValueError("cypher: ALL body must be EXISTS((b)-[:T]->(n))")
        ex = self._exists()
        self._expect("sym", ")")
        if ex.dst_var != iter_var:
            raise ValueError(
                f"cypher: ALL body must test the iteration variable "
                f"({iter_var}), got EXISTS(...->({ex.dst_var}))"
            )
        return AllScoped(iter_var, path_var, ex.src_var, ex.types)

    @staticmethod
    def _validate_rel_pred(pred, iter_var: str) -> None:
        """An ALL(r IN relationships(p) WHERE …) body must be a boolean
        tree of ``r.prop <op> literal`` comparisons over the iteration
        variable only — it lowers to an edge-frame filter, where no
        other variable is in scope."""
        if isinstance(pred, BoolExpr):
            for a in pred.args:
                CypherParser._validate_rel_pred(a, iter_var)
            return
        if not isinstance(pred, Comparison):
            raise ValueError(
                "cypher: ALL(... IN relationships(p) WHERE ...) supports "
                "only comparisons on the relationship variable"
            )
        var, prop = pred.left
        if var != iter_var or prop is None:
            raise ValueError(
                f"cypher: ALL relationship predicate must test "
                f"{iter_var}.<prop>, got {var}.{prop}"
            )
        if isinstance(pred.right, Ref):
            raise ValueError(
                "cypher: ALL relationship predicate compares against "
                "literals only (no other variable is in scope on an edge)"
            )

    def _comparison(self) -> Comparison:
        var = self._expect("word")
        if self._accept("sym", "."):
            prop = self._expect("word")
        else:
            prop = None  # bare scalar reference (a WITH alias)
        k, v = self._next()
        if k == "kw" and v.upper() == "CONTAINS":
            op = "contains"
        elif k == "kw" and v.upper() == "STARTS":
            self._expect("kw", "WITH")
            op = "startswith"
        elif k == "kw" and v.upper() == "ENDS":
            self._expect("kw", "WITH")
            op = "endswith"
        elif k in ("kw", "word") and v.upper() == "IN":
            # x IN [lit, ...] or x IN $list — membership against a
            # literal/parameter list (never a column: no list columns in
            # the model), so the RHS resolves at parse time
            if self._accept("sym", "["):
                vals = []
                if not self._accept("sym", "]"):
                    vals.append(self._literal())
                    while self._accept("sym", ","):
                        vals.append(self._literal())
                    self._expect("sym", "]")
            else:
                vals = self._literal()
            if not isinstance(vals, (list, tuple)) or not all(
                isinstance(x, (str, int, float, bool)) for x in vals
            ):
                raise ValueError(
                    "cypher: IN expects a list of scalar literals "
                    "([...] or a $param bound to one)"
                )
            return Comparison((var, prop), "in", list(vals))
        elif k == "sym" and v in ("=", "<>", "<", "<=", ">", ">="):
            op = v
        else:
            raise ValueError(f"cypher: unsupported operator {v!r}")
        nk, _nv = self._peek()
        if nk == "word":  # RHS variable reference: var.prop or bare scalar
            rvar = self._next()[1]
            rprop = self._expect("word") if self._accept("sym", ".") else None
            return Comparison((var, prop), op, Ref(rvar, rprop))
        return Comparison((var, prop), op, self._literal())

    def _return_item(self) -> ReturnItem:
        if self._accept("kw", "COUNT"):
            self._expect("sym", "(")
            if self._accept("sym", "*"):
                item = ReturnItem("count_star", None, None, None)
            elif self._accept("kw", "DISTINCT"):
                item = ReturnItem("count_distinct_var", self._expect("word"), None, None)
            else:
                item = ReturnItem("count_var", self._expect("word"), None, None)
            self._expect("sym", ")")
        elif (
            self._peek_word("SUM", "MIN", "MAX", "AVG", "COLLECT")
            and self.pos + 1 < len(self.toks)
            and self.toks[self.pos + 1] == ("sym", "(")
        ):
            fn = self._next()[1].lower()
            self._expect("sym", "(")
            var = self._expect("word")
            if self._accept("sym", "."):
                prop = self._expect("word")
            else:
                prop = None  # sum(scalar alias)
            self._expect("sym", ")")
            item = ReturnItem(f"agg_{fn}", var, prop, None)
        elif self._accept("sym", "["):
            # [node in nodes(path) | node.prop] / [rel in relationships(path) | rel.offset]
            it_var = self._expect("word")
            if not self._accept_word("IN"):
                raise ValueError("cypher: list comprehension expects 'x IN nodes(path)'")
            src = self._name()
            if src not in ("nodes", "relationships"):
                raise ValueError("cypher: comprehensions iterate nodes(p) or relationships(p)")
            self._expect("sym", "(")
            pv = self._expect("word")
            self._expect("sym", ")")
            self._expect("sym", "|")
            body_var = self._expect("word")
            self._expect("sym", ".")
            prop = self._expect("word")
            self._expect("sym", "]")
            if body_var != it_var:
                raise ValueError(
                    f"cypher: comprehension body must project the iteration "
                    f"variable ({it_var}), got {body_var}"
                )
            kind = "path_nodes_prop" if src == "nodes" else "path_rels_prop"
            item = ReturnItem(kind, pv, prop, None)
        elif self._peek_word("LENGTH") and self.pos + 1 < len(self.toks) and self.toks[self.pos + 1] == ("sym", "("):
            self._next()
            self._next()
            item = ReturnItem("path_len", self._expect("word"), None, None)
            self._expect("sym", ")")
        else:
            var = self._expect("word")
            if var.lower() in ("type", "labels") and self._accept("sym", "("):
                # type(r) / labels(n) → the .type / .label pseudo-props
                inner = self._expect("word")
                self._expect("sym", ")")
                item = ReturnItem(
                    "prop", inner, "type" if var.lower() == "type" else "label", None
                )
            elif self._accept("sym", "."):
                item = ReturnItem("prop", var, self._expect("word"), None)
            else:
                item = ReturnItem("node", var, None, None)
        if self._accept("kw", "AS"):
            item.alias = self._name()
        return item

    def _order_item(self) -> tuple[str, bool]:
        name = self._expect("word")
        if self._accept("sym", "."):
            name = f"{name}.{self._expect('word')}"
        asc = True
        if self._accept("kw", "DESC"):
            asc = False
        else:
            self._accept("kw", "ASC")
        return (name, asc)


# ----------------------------------------------------------------- compiler


def _path_accessor_usage(q: Query) -> dict[str, set[str]]:
    """Which path accessors each ``path =`` variable needs downstream:
    ``nodes`` (nodes(path) / bare RETURN path), ``props`` (node name or
    address inside a nodes(path) comprehension), ``offs``
    (relationships(path) offsets).  length(path) is free — the depth
    counter always exists.  Drives path-column pruning in _compile_path:
    accessors never referenced are never materialized, and the per-level
    functions join is skipped when no node property is projected.
    Unknown item kinds that reference the path variable stay
    conservative (everything materialized)."""
    pvs: set[str] = {p.path_var for p in q.patterns if p.path_var}
    for st in q.stages:
        pvs |= {p.path_var for p in st.patterns if p.path_var}
    use: dict[str, set[str]] = {v: set() for v in pvs}
    items = list(q.items)
    for st in q.stages:
        items += list(st.items)
    for it in items:
        v = it.var
        if v not in use:
            continue
        if it.kind in ("path", "node"):
            use[v].add("nodes")
        elif it.kind == "path_len":
            pass
        elif it.kind == "path_nodes_prop":
            use[v].add("nodes")
            if it.prop in ("name", "address"):
                use[v].add("props")
        elif it.kind == "path_rels_prop":
            use[v].add("offs")
        else:
            use[v].update({"nodes", "props", "offs"})
    return use


class CypherCompiler:
    """Compile a parsed query against a dict of node/edge DataFrames
    (the `graph_tables` shape: binaries functions strings libraries
    contains imports imports_library belongs_to calls contains_string)."""

    def __init__(self, tables: dict[str, DataFrame]):
        self.tables = tables

    def compile(self, q: Query) -> DataFrame:
        if q.subunion is not None:
            return self._compile_union(q)
        bound: dict[str, str] = {}  # var -> label (ANY / SCALAR for pseudo-vars)
        self._edge_vars: set[str] = set()
        self._scalar_vars: set[str] = set()
        self._path_vars: dict[str, dict[str, str]] = {}
        self._path_usage = _path_accessor_usage(q)
        self._exists_markers: dict[int, str] = {}
        df: DataFrame | None = None
        if q.fulltext is not None:
            df = self._fulltext_df(q.fulltext, bound)
        for stage in q.stages:
            self._varlen_distinct_safe = self._multiplicity_insensitive(
                stage.distinct, stage.items
            )
            df = self._compile_segment(df, stage.patterns, stage.where, bound)
            df = self._apply_with(df, stage, bound)
        self._varlen_distinct_safe = self._multiplicity_insensitive(q.distinct, q.items)
        df = self._compile_segment(df, q.patterns, q.where, bound)
        assert df is not None
        return self._returns(df, q, bound)

    def _multiplicity_insensitive(self, distinct: bool, items) -> bool:
        """True when the consuming clause provably cannot observe row
        multiplicity, so a var-length pattern may compile to the cheap
        DISTINCT-endpoint-pairs BFS instead of full path enumeration:
        either the clause is DISTINCT with no aggregates, or every
        aggregate is count(DISTINCT x) (group keys and count-distinct
        are both blind to duplicate rows).  Anything else — count(*),
        sum, collect, plain projection — sees Cypher's one-row-per-path
        semantics and gets the per-path plan."""
        aggs = [i for i in items if self._is_agg(i.kind)]
        if aggs:
            return all(i.kind == "count_distinct_var" for i in aggs)
        return bool(distinct)

    def _compile_segment(
        self, df: DataFrame | None, patterns: list[Pattern], where, bound: dict[str, str]
    ) -> DataFrame | None:
        """Compile one MATCH...WHERE segment (the shared body of plain
        queries and each WITH-pipeline stage)."""
        self._exists_markers = {}
        where, scopes, rel_preds = self._extract_scopes(where)
        for pat in patterns:
            if pat.unwind is not None:
                alias, vals = pat.unwind
                if alias in bound:
                    raise ValueError(f"cypher: UNWIND rebinds {alias}")
                spark = next(iter(self.tables.values())).sparkSession
                lit_df = spark.createDataFrame([(v,) for v in vals], [f"{alias}____val"])
                df = lit_df if df is None else df.crossJoin(F.broadcast(lit_df))
                bound[alias] = SCALAR
                self._scalar_vars.add(alias)
            elif pat.path_var is not None:
                df = self._compile_path(
                    df, pat, bound, scopes.pop(pat.path_var, None), where,
                    rel_pred=rel_preds.pop(pat.path_var, None),
                )
            elif pat.optional:
                df = self._compile_optional(df, pat, bound)
            else:
                df = self._compile_pattern(df, pat, bound)
        if scopes:
            raise ValueError(
                f"cypher: ALL(... IN nodes({next(iter(scopes))})) references "
                "an unknown path variable"
            )
        if rel_preds:
            raise ValueError(
                f"cypher: ALL(... IN relationships({next(iter(rel_preds))})) "
                "references an unknown path variable"
            )
        if where is not None:
            if df is None:
                raise ValueError("cypher: WHERE without a preceding MATCH")
            df = self._attach_exists(df, where, bound)
            df = df.filter(self._predicate(where, bound))
            df = df.drop(*self._exists_markers.values())
        return df

    def _apply_with(self, df: DataFrame | None, stage: WithStage, bound: dict[str, str]) -> DataFrame:
        """Project/aggregate the working rows through a WITH clause and
        rebind the variable horizon: carried node variables keep their
        full column sets (so later MATCH clauses join on them), scalar
        expressions become SCALAR pseudo-variables, everything else goes
        out of scope (Cypher semantics)."""
        if df is None:
            raise ValueError("cypher: WITH needs a preceding MATCH")
        aggs = [i for i in stage.items if self._is_agg(i.kind)]
        new_bound: dict[str, str] = {}
        carried_cols: list[str] = []
        scalar_cols: list = []  # Column exprs aliased {alias}____val
        order_names: dict[str, str] = {}
        for it in stage.items:
            if self._is_agg(it.kind):
                if not it.alias:
                    raise ValueError("cypher: aggregates in WITH need AS alias")
                continue
            if it.kind == "node":
                if it.alias and it.alias != it.var:
                    raise ValueError("cypher: WITH cannot rename a node variable (v1)")
                lbl = bound.get(it.var)
                if it.var in self._path_vars or it.var in self._edge_vars:
                    raise ValueError(
                        f"cypher: WITH carries nodes and scalars only, not {it.var}"
                    )
                if lbl is None:
                    raise ValueError(f"cypher: WITH references unbound variable {it.var}")
                if lbl == SCALAR:
                    carried_cols.append(f"{it.var}____val")
                    new_bound[it.var] = SCALAR
                    continue
                prefix = f"{it.var}____" if lbl == ANY else f"{it.var}__"
                cols = [c for c in df.columns if c.startswith(prefix)]
                carried_cols.extend(cols)
                new_bound[it.var] = lbl
            elif it.kind == "prop":
                if not it.alias:
                    raise ValueError("cypher: WITH expressions need AS alias")
                scalar_cols.append(
                    self._prop_col(it.var, it.prop, bound).alias(f"{it.alias}____val")
                )
                new_bound[it.alias] = SCALAR
            else:
                raise ValueError(f"cypher: unsupported WITH item kind {it.kind}")
        # the NEW prop-derived scalar columns (carried scalar variables
        # are already inside carried_cols)
        scalar_names = [f"{it.alias}____val" for it in stage.items if it.kind == "prop"]
        if aggs:
            # keep every input column alongside the computed scalars so
            # aggregate targets (node keys, edge type markers) resolve,
            # then group by the carried horizon only
            pre = df.select("*", *scalar_cols)
            outs = []
            for it in aggs:
                name = f"{it.alias}____val"
                outs.append(self._agg_expr(it, bound, name))
                new_bound[it.alias] = SCALAR
            keys = carried_cols + scalar_names
            out = pre.groupBy(*[F.col(c) for c in keys]).agg(*outs) if keys else pre.agg(*outs)
        else:
            out = df.select(*[F.col(c) for c in carried_cols], *scalar_cols)
            if stage.distinct:
                out = out.distinct()
        # horizon reset
        bound.clear()
        bound.update(new_bound)
        self._edge_vars = set()
        self._path_vars = {}
        self._scalar_vars = {v for v, l in new_bound.items() if l == SCALAR}
        # ORDER BY / LIMIT inside WITH (openCypher clause order): the
        # spellings are scalar aliases and carried var.prop
        if stage.order or stage.skip or stage.limit is not None:
            names: dict[str, str] = {}
            for v, lbl in bound.items():
                if lbl == SCALAR:
                    names[v] = f"{v}____val"
                elif lbl == ANY:
                    for c in ("key", "label"):
                        names[f"{v}.{c}"] = f"{v}____{c}"
                else:
                    table, _k = NODE_LABELS[lbl]
                    for c in self.tables[table].columns:
                        names[f"{v}.{c}"] = f"{v}__{c}"
            out = self._apply_order(out, stage.order, names)
            if stage.skip:
                out = out.offset(stage.skip)
            if stage.limit is not None:
                out = out.limit(stage.limit)
        if stage.with_where is not None:
            self._exists_markers = {}
            w, scopes, rel_preds = self._extract_scopes(stage.with_where)
            if scopes or rel_preds:
                raise ValueError("cypher: ALL(...) is not supported in a WITH WHERE")
            out = self._attach_exists(out, w, bound)
            out = out.filter(self._predicate(w, bound))
            out = out.drop(*self._exists_markers.values())
        return out

    def _compile_union(self, q: Query) -> DataFrame:
        """CALL { q1 UNION q2 } RETURN [DISTINCT] cols — compile each
        branch independently, UNION by column name (Cypher's CALL-UNION
        dedups: UNION without ALL is distinct), then project the outer
        items."""
        frames = [CypherCompiler(self.tables).compile(b) for b in (q.subunion or [])]
        out = frames[0]
        for f2 in frames[1:]:
            out = out.unionByName(f2)
        out = out.distinct()  # Cypher UNION (no ALL) semantics
        names: dict[str, str] = {}
        cols = []
        for it in q.items:
            if it.var not in out.columns:
                raise ValueError(
                    f"cypher: outer RETURN column {it.var!r} is not produced "
                    f"by the CALL branches (have: {out.columns})"
                )
            name = it.alias or it.var
            cols.append(F.col(it.var).alias(name))
            names[it.var] = name
            names[name] = name
        out = out.select(cols)
        if q.distinct:
            out = out.distinct()
        out = self._apply_order(out, q.order, names)
        if q.skip:
            out = out.offset(q.skip)
        if q.limit is not None:
            out = out.limit(q.limit)
        return out

    # --- WHERE pre-pass helpers
    @staticmethod
    def _conjuncts(expr) -> list:
        """Flatten top-level ANDs."""
        if isinstance(expr, BoolExpr) and expr.op == "and":
            out = []
            for a in expr.args:
                out.extend(CypherCompiler._conjuncts(a))
            return out
        return [expr]

    @staticmethod
    def _contains_type(expr, ty) -> bool:
        if isinstance(expr, ty):
            return True
        if isinstance(expr, BoolExpr):
            return any(CypherCompiler._contains_type(a, ty) for a in expr.args)
        return False

    def _extract_scopes(self, where):
        """Pull ALL(n IN nodes(p) WHERE EXISTS(...)) and ALL(r IN
        relationships(p) WHERE ...) conjuncts out of the WHERE tree —
        they lower into scope-constrained / edge-filtered path
        enumeration, not a per-row predicate."""
        if where is None:
            return None, {}, {}
        scopes: dict[str, tuple[str, list[str]]] = {}
        rel_preds: dict[str, tuple[str, object]] = {}
        rest = []
        for c in self._conjuncts(where):
            if isinstance(c, AllScoped):
                if c.path_var in scopes:
                    raise ValueError(f"cypher: duplicate ALL(...) over path {c.path_var}")
                scopes[c.path_var] = (c.scope_var, c.types)
            elif isinstance(c, AllRelPred):
                if c.path_var in rel_preds:
                    raise ValueError(
                        f"cypher: duplicate ALL(... IN relationships({c.path_var}))"
                        " — AND the predicates inside one ALL instead"
                    )
                rel_preds[c.path_var] = (c.iter_var, c.pred)
            else:
                if self._contains_type(c, AllScoped) or self._contains_type(c, AllRelPred):
                    raise ValueError(
                        "cypher: ALL(...) is supported only as a top-level AND conjunct"
                    )
                rest.append(c)
        out = None
        for c in rest:
            out = c if out is None else BoolExpr("and", [out, c])
        return out, scopes, rel_preds

    @staticmethod
    def _expr_vars(expr) -> set[str]:
        if isinstance(expr, Comparison):
            out = {expr.left[0]}
            if isinstance(expr.right, Ref):
                out.add(expr.right.var)
            return out
        if isinstance(expr, ExistsPat):
            return {expr.src_var, expr.dst_var}
        if isinstance(expr, BoolExpr):
            out: set[str] = set()
            for a in expr.args:
                out |= CypherCompiler._expr_vars(a)
            return out
        return set()

    def _pushable_conjuncts(self, where, bound: dict[str, str]) -> list:
        """Conjuncts answerable from already-bound variables — applied
        BEFORE iterative path enumeration (the pushdown Catalyst cannot
        do across a driver-side loop).  EXISTS terms are excluded (their
        marker joins happen at filter time); the full WHERE still runs
        after all patterns, so double application is harmless."""
        if where is None:
            return []
        out = []
        for c in self._conjuncts(where):
            if self._contains_type(c, ExistsPat):
                continue
            if self._expr_vars(c) and self._expr_vars(c) <= set(bound):
                out.append(c)
        return out

    def _attach_exists(self, df: DataFrame, where, bound: dict[str, str]) -> DataFrame:
        """Left-join a lit(1) marker per EXISTS((a)-[:T|T2]->(b)) term
        against the DISTINCT union of the listed edge tables; the
        predicate then reads marker-IS-NOT-NULL (correct under NOT/OR).
        One broadcast-friendly join per term, no correlated subquery."""

        def walk(expr, df):
            if isinstance(expr, BoolExpr):
                for a in expr.args:
                    df = walk(a, df)
                return df
            if not isinstance(expr, ExistsPat):
                return df
            if id(expr) in self._exists_markers:
                return df
            srcs = {EDGE_TYPES[t][1] for t in expr.types}
            dsts = {EDGE_TYPES[t][3] for t in expr.types}
            if len(srcs) != 1 or len(dsts) != 1:
                raise ValueError("cypher: EXISTS multi-type edges must share endpoint labels")
            sl, dl = srcs.pop(), dsts.pop()
            for v, want in ((expr.src_var, sl), (expr.dst_var, dl)):
                if v not in bound:
                    raise ValueError(f"cypher: EXISTS references unbound variable {v}")
                if bound[v] != want:
                    raise ValueError(
                        f"cypher: EXISTS(({expr.src_var})-[:{'|'.join(expr.types)}]->"
                        f"({expr.dst_var})): {v} is :{bound[v]}, needs :{want}"
                    )
            mk = f"__exists_{len(self._exists_markers)}"
            frames = []
            for t in expr.types:
                table, _sl, sc, _dl, dc = EDGE_TYPES[t]
                frames.append(
                    self.tables[table].select(
                        F.col(sc).alias("__exs"), F.col(dc).alias("__exd")
                    )
                )
            pairs = frames[0]
            for f2 in frames[1:]:
                pairs = pairs.unionByName(f2)
            pairs = pairs.distinct().withColumn(mk, F.lit(1))
            skey = F.col(self._key_col(expr.src_var, bound[expr.src_var]))
            dkey = F.col(self._key_col(expr.dst_var, bound[expr.dst_var]))
            df = df.join(
                pairs, (skey == F.col("__exs")) & (dkey == F.col("__exd")), "left"
            ).drop("__exs", "__exd")
            self._exists_markers[id(expr)] = mk
            return df

        return walk(where, df)

    def _fulltext_df(self, ft: FulltextCall, bound: dict[str, str]) -> DataFrame:
        """Lower the fulltext CALL to the engine's scored token search
        over String.value (same primitives as the standalone search
        operators — operators/search.py; importer.rs:385-401): the
        default query builder turns the pattern into AND-ed ``*tok*``
        terms, score = total occurrence count across terms."""
        from .operators.search import default_query_tokens, score_expr, tokens_predicate

        toks = default_query_tokens(ft.pattern)
        if not toks:
            raise ValueError("cypher: fulltext pattern has no searchable tokens")
        strings = self.tables["strings"]
        df = strings.select([F.col(c).alias(f"{ft.node_var}__{c}") for c in strings.columns])
        vcol = F.col(f"{ft.node_var}__value")
        df = df.filter(tokens_predicate(vcol, toks)).withColumn(
            f"{ft.score_var}____val", score_expr(vcol, toks).cast("double")
        )
        bound[ft.node_var] = "String"
        bound[ft.score_var] = SCALAR
        self._scalar_vars.add(ft.score_var)
        return df

    def _compile_path(
        self,
        df: DataFrame | None,
        pat: Pattern,
        bound: dict[str, str],
        scope: tuple[str, list[str]] | None,
        where,
        rel_pred: tuple[str, object] | None = None,
    ) -> DataFrame:
        """``MATCH path = (start:Function)-[:CALLS*lo..hi]->(end)`` —
        one row PER PATH (Cypher multiplicity), with the path's node
        structs, edge offsets and length carried as array columns
        (call_path_analyzer.rs:30-38,294-300,344-354).

        Same semantics as operators/traverse.enumerate_paths: no repeated
        RELATIONSHIP within a path (node revisits allowed — cycles show
        up), level-by-level frontier joins through
        ``plans.lineage.frontier_levels``.
        ``scope`` (from a lowered ALL(n IN nodes(path) WHERE EXISTS(
        (b)-[...]->(n)))) constrains enumeration to b's subgraph DURING
        the iteration — each frontier extension joins the scope-filtered
        edge frame keyed by (b, edge), so out-of-scope paths are pruned
        at the level they escape, not post-hoc."""
        if len(pat.edges) != 1:
            raise ValueError("cypher: a path pattern must be a single [:CALLS*lo..hi] edge")
        e = pat.edges[0]
        if not e.varlen or e.types != ["CALLS"] or e.direction != "->":
            raise ValueError(
                "cypher: path patterns support (a)-[:CALLS*lo..hi]->(b) only"
            )
        lo, hi = e.varlen
        if not (1 <= lo <= hi <= 10):
            raise ValueError("cypher: *lo..hi must satisfy 1 <= lo <= hi <= 10")
        start, end = pat.nodes
        cycle = end.var == start.var
        for n in (start, end):
            have = n.label or bound.get(n.var)
            if have is not None and have != "Function":
                raise ValueError(f"cypher: path endpoint ({n.var}:{have}) must be :Function")
            n.label = "Function"
        pv = pat.path_var
        assert pv is not None
        if pv in bound or pv in self._path_vars:
            raise ValueError(f"cypher: path variable {pv} is already bound")

        # Path-accessor pruning: the column pruning Catalyst cannot do
        # through the driver-side frontier loop.  When the statement never
        # projects nodes(path)/relationships(path), the node-struct and
        # offset arrays (and the per-level functions join that feeds node
        # properties) are dead weight carried through every iteration —
        # skip building them.  shortestPath keeps everything: its
        # deterministic tie-break orders on the uid sequence.
        use = (
            {"nodes", "props", "offs"}
            if pat.shortest
            else getattr(self, "_path_usage", {}).get(pv, {"nodes", "props", "offs"})
        )
        need_nodes = "nodes" in use
        need_props = "props" in use
        need_offs = "offs" in use

        df = self._bind_node(df, start, bound)
        for c in self._pushable_conjuncts(where, bound):
            df = df.filter(self._predicate(c, bound))

        nodes_c, offs_c, eids_c, end_c, len_c = (
            f"__{pv}_nodes", f"__{pv}_offs", f"__{pv}_eids", f"__{pv}_end", f"__{pv}_len",
        )
        skey = self._key_col(start.var, "Function")
        cur = df
        if need_nodes:
            start_fields = [F.col(f"{start.var}__uid").alias("uid")]
            if need_props:
                start_fields += [
                    F.col(f"{start.var}__name").alias("name"),
                    F.col(f"{start.var}__address").alias("address"),
                ]
            cur = cur.withColumn(nodes_c, F.array(F.struct(*start_fields)))
        if need_offs:
            cur = cur.withColumn(offs_c, F.array().cast("array<string>"))
        cur = cur.withColumn(eids_c, F.array().cast("array<string>")).withColumn(
            end_c, F.col(skey)
        )

        calls = self.tables["calls"]
        if rel_pred is not None:
            # ALL(r IN relationships(p) WHERE r.prop <op> lit ...): since
            # EVERY path edge must satisfy the predicate, filtering the
            # edge frame before the frontier loop is exactly equivalent —
            # and prunes non-conforming paths at the level they would
            # take the edge (the pushdown Catalyst cannot do through the
            # driver-side iteration), instead of post-hoc over arrays.
            iv, pred = rel_pred
            calls = calls.filter(self._rel_predicate(pred, iv, calls))
        edge = calls.select(
            F.col("src_uid").alias("_from"), F.col("dst_uid").alias("_to"),
            F.col("offset").alias("_off"),
        ).withColumn("_eid", F.concat_ws("→", "_from", "_to"))
        if need_props:
            fn = self.tables["functions"].select(
                F.col("uid").alias("_fuid"), F.col("name").alias("_fname"),
                F.col("address").alias("_faddr"),
            )
            edge = edge.join(fn, edge._to == fn._fuid)

        scope_key = None
        if scope is not None:
            scope_var, types = scope
            if scope_var not in bound:
                raise ValueError(f"cypher: ALL-scope variable {scope_var} is not bound")
            srcs = {EDGE_TYPES[t][1] for t in types}
            dsts = {EDGE_TYPES[t][3] for t in types}
            if srcs != {bound[scope_var]} or dsts != {"Function"}:
                raise ValueError(
                    "cypher: ALL-scope edge types must run scope-label → Function"
                )
            frames = []
            for t in types:
                table, _sl, sc, _dl, dc = EDGE_TYPES[t]
                frames.append(
                    self.tables[table].select(F.col(sc).alias("__sb"), F.col(dc).alias("__sn"))
                )
            pairs = frames[0]
            for f2 in frames[1:]:
                pairs = pairs.unionByName(f2)
            pairs = pairs.distinct()
            scope_key = self._key_col(scope_var, bound[scope_var])
            # the start node is on the path too — enforce its membership
            cur = cur.join(
                pairs,
                (F.col(scope_key) == F.col("__sb")) & (F.col(end_c) == F.col("__sn")),
                "left_semi",
            )
            edge = edge.join(pairs, edge._to == F.col("__sn")).drop("__sn")

        if pat.shortest and cycle:
            raise ValueError(
                "cypher: shortestPath over a cycle pattern is unsupported "
                "(use the plain path pattern — the engine enumerates cycles)"
            )
        edge = edge.localCheckpoint(eager=True)
        base_cols = list(cur.columns)
        acc = tuple(c for c in (nodes_c, offs_c, eids_c, end_c) if c in base_cols)
        cond = F.col(end_c) == edge["_from"]
        if scope_key is not None:
            cond = cond & (F.col(scope_key) == edge["__sb"])
        first = cur.localCheckpoint(eager=True)
        if pat.shortest:
            levels = self._shortest_levels(first, edge, cond, base_cols, acc, lo, hi, len_c)
        else:
            sel = [F.col(c) for c in base_cols if c not in acc]
            sel.append(F.col("_to").alias(end_c))
            if need_nodes:
                step_fields = [F.col("_to").alias("uid")]
                if need_props:
                    step_fields += [
                        F.col("_fname").alias("name"),
                        F.col("_faddr").alias("address"),
                    ]
                sel.append(
                    F.array_append(F.col(nodes_c), F.struct(*step_fields)).alias(nodes_c)
                )
            if need_offs:
                sel.append(F.array_append(F.col(offs_c), F.col("_off")).alias(offs_c))
            sel.append(F.array_append(F.col(eids_c), F.col("_eid")).alias(eids_c))

            def step(frontier: DataFrame) -> DataFrame:
                return (
                    frontier.join(edge, cond)
                    .filter(~F.array_contains(F.col(eids_c), F.col("_eid")))
                    .select(*sel)
                    .select(*base_cols)  # restore column order for unionByName
                )

            levels = [
                ext.withColumn(len_c, F.lit(depth))
                for depth, ext in frontier_levels(first, step, hi)
                if depth >= lo
            ]
        if levels:
            out = levels[0]
            for lv in levels[1:]:
                out = out.unionByName(lv)
        else:
            out = cur.filter(F.lit(False)).withColumn(len_c, F.lit(0))

        if cycle:
            out = out.filter(F.col(end_c) == F.col(skey))
            for p, v in end.props.items():  # props on the closing (f {...})
                out = out.filter(self._prop_col(start.var, p, bound) == F.lit(v))
        elif end.var in bound:
            out = out.filter(F.col(end_c) == F.col(self._key_col(end.var, bound[end.var])))
        else:
            end_df = self._node_df(end.var, "Function")
            out = out.join(end_df, F.col(end_c) == F.col(f"{end.var}__uid"))
            bound[end.var] = "Function"
            for p, v in end.props.items():
                out = out.filter(self._prop_col(end.var, p, bound) == F.lit(v))

        self._path_vars[pv] = {"nodes": nodes_c, "offs": offs_c, "len": len_c}
        return out.drop(eids_c, end_c)

    def _shortest_levels(
        self, first: DataFrame, edge: DataFrame, cond: Column, base_cols: list[str],
        acc: tuple[str, ...], lo: int, hi: int, len_c: str,
    ) -> list[DataFrame]:
        """shortestPath BFS levels lo..hi: min-depth frontier with
        per-(row, node) visited pruning, ONE deterministic path per
        endpoint pair (ties broken on the lexicographically smallest uid
        sequence, then the smallest edge-offsets array — a TOTAL order,
        so the surviving path is fully determined; Neo4j picks an
        arbitrary shortest path, we pick a stable one)."""
        from pyspark.sql.window import Window

        nodes_c, offs_c, eids_c, end_c = acc
        idcols = [c for c in base_cols if c not in acc]
        visited = first.select(
            *idcols, F.col(end_c).alias("_to")
        ).distinct().localCheckpoint(eager=True)
        key = F.array_join(F.transform(F.col(nodes_c), lambda x: x["uid"]), "→")
        # TOTAL order (r13, ADVICE): multi-edges (same src/dst,
        # different offset) tie on the uid sequence; the offsets
        # array breaks the tie so the one surviving row is fully
        # determined, not a shuffle-fetch-order accident.
        w = Window.partitionBy(*idcols, end_c).orderBy(key.asc(), F.col(offs_c).asc())

        def step(frontier: DataFrame) -> DataFrame:
            ext = (
                frontier.join(edge, cond)
                .join(visited, idcols + ["_to"], "left_anti")
                .select(
                    *idcols,
                    F.col("_to").alias(end_c),
                    F.array_append(
                        F.col(nodes_c),
                        F.struct(
                            F.col("_fuid").alias("uid"),
                            F.col("_fname").alias("name"),
                            F.col("_faddr").alias("address"),
                        ),
                    ).alias(nodes_c),
                    F.array_append(F.col(offs_c), F.col("_off")).alias(offs_c),
                    F.col(eids_c),
                )
                .select(*base_cols)
            )
            return (
                ext.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )

        levels: list[DataFrame] = []
        for depth, ext in frontier_levels(first, step, hi):
            if depth >= lo:
                levels.append(ext.withColumn(len_c, F.lit(depth)))
            visited = visited.unionByName(
                ext.select(*idcols, F.col(end_c).alias("_to"))
            )
        return levels

    # --- helpers
    def _node_df(self, var: str, label: str) -> DataFrame:
        if label == ANY:
            # (n) with no label: every node table, identity-only columns
            frames = []
            for lbl, (table, key) in NODE_LABELS.items():
                t = self.tables[table]
                frames.append(
                    t.select(
                        F.col(key).cast("string").alias(f"{var}____key"),
                        F.lit(lbl).alias(f"{var}____label"),
                    )
                )
            out = frames[0]
            for f2 in frames[1:]:
                out = out.unionByName(f2)
            return out
        table, _key = NODE_LABELS[label]
        t = self.tables[table]
        return t.select([F.col(c).alias(f"{var}__{c}") for c in t.columns])

    def _key_col(self, var: str, label: str) -> str:
        if label == ANY:
            return f"{var}____key"
        return f"{var}__{NODE_LABELS[label][1]}"

    def _prop_col(self, var: str, prop: str, bound: dict[str, str]) -> Column:
        """Resolve var.prop to a Column — pseudo-properties for
        any-label nodes (.key/.label), labeled nodes (.key/.label as
        key column / literal), and edge variables (.type)."""
        lbl = bound.get(var)
        if prop is None:
            if lbl != SCALAR:
                raise ValueError(
                    f"cypher: bare {var} in a predicate must be a scalar "
                    f"(a WITH alias or YIELD score); it is {lbl or 'unbound'}"
                )
            return F.col(f"{var}____val")
        if lbl == SCALAR:
            raise ValueError(
                f"cypher: {var} is a scalar (YIELD score) — reference it bare, "
                f"not as {var}.{prop}"
            )
        if lbl == ANY:
            if prop in ("key", "label"):
                return F.col(f"{var}____{prop}")
            raise ValueError(
                f"cypher: ({var}) matched without a label exposes only "
                f".key and .label, not .{prop}"
            )
        if var in self._edge_vars and prop == "type":
            return F.col(f"{var}____type")
        if lbl in NODE_LABELS and prop == "label":
            return F.lit(lbl)
        if lbl in NODE_LABELS and prop == "key":
            return F.col(self._key_col(var, lbl))
        if lbl is None and var not in self._edge_vars:
            raise ValueError(f"cypher: {var} is not in scope here")
        return F.col(f"{var}__{prop}")

    def _bind_node(self, df: DataFrame | None, n: NodePat, bound: dict[str, str]) -> DataFrame:
        if n.var in bound:
            if n.label and bound[n.var] != n.label:
                raise ValueError(f"cypher: variable {n.var} re-bound to a different label")
            if df is None:
                raise ValueError("cypher: internal bind order error")
            out = df
        else:
            lbl = n.label or ANY
            nd = self._node_df(n.var, lbl)
            out = nd if df is None else df.crossJoin(nd)
            bound[n.var] = lbl
            n.label = lbl
        for p, v in n.props.items():
            out = out.filter(self._prop_col(n.var, p, bound) == F.lit(v))
        return out

    def _compile_pattern(self, df: DataFrame | None, pat: Pattern, bound: dict[str, str]) -> DataFrame:
        # infer missing labels from edge endpoints before binding
        # (untyped edges constrain nothing — endpoints stay any-label)
        for i, e in enumerate(pat.edges):
            if not e.types:
                continue
            srcs = {EDGE_TYPES[t][1] for t in e.types}
            dsts = {EDGE_TYPES[t][3] for t in e.types}
            if len(srcs) != 1 or len(dsts) != 1:
                raise ValueError("cypher: multi-type edges must share endpoint labels")
            sl, dl = srcs.pop(), dsts.pop()
            left, right = (i, i + 1) if e.direction == "->" else (i + 1, i)
            for idx, want in ((left, sl), (right, dl)):
                have = pat.nodes[idx].label or bound.get(pat.nodes[idx].var)
                if have is not None and have != want:
                    raise ValueError(
                        f"cypher: ({pat.nodes[idx].var}:{have}) cannot be the "
                        f"{'source' if want == sl else 'target'} of "
                        f":{'|'.join(e.types)} (needs :{want})"
                    )
                pat.nodes[idx].label = want

        df = self._bind_node(df, pat.nodes[0], bound)
        for i, e in enumerate(pat.edges):
            nxt = pat.nodes[i + 1]
            cur = pat.nodes[i]
            src_node, dst_node = (cur, nxt) if e.direction == "->" else (nxt, cur)
            if e.varlen:
                if e.var:
                    raise ValueError(
                        "cypher: a variable on a var-length edge needs a "
                        "path pattern (p = (a)-[:CALLS*..]->(b), then "
                        "relationships(p))"
                    )
                # The DISTINCT-pairs fast path is sound ONLY for lo == 1:
                # there, every walk a→b contains a relationship-unique
                # path a→b of some length in [1, hi] (strip repeated-edge
                # cycles), so walk-endpoints == path-endpoints as SETS.
                # For lo >= 2 the sets genuinely differ (a lone self-loop
                # 1→1 has a length-2 WALK but no rel-unique length-2
                # path), so multiplicity-insensitivity is not enough —
                # those queries take the per-path plan.
                if getattr(self, "_varlen_distinct_safe", False) and e.varlen[0] == 1:
                    pairs = self._varlen_pairs(e.varlen[1])
                else:
                    pairs = self._varlen_paths(e.varlen)
            else:
                pairs = self._edge_pairs(e)
            # join the edge onto the already-bound end, then bind the far end
            src_key = lambda: F.col(self._key_col(src_node.var, src_node.label or bound[src_node.var]))  # noqa: E731
            dst_key = lambda: F.col(self._key_col(dst_node.var, dst_node.label or bound[dst_node.var]))  # noqa: E731
            if cur.var in bound and nxt.var in bound:
                df = df.join(
                    pairs,
                    (src_key() == pairs["__src"]) & (dst_key() == pairs["__dst"]),
                ).drop("__src", "__dst")
            elif e.direction == "->":
                df = df.join(pairs, src_key() == pairs["__src"]).drop("__src")
                df = self._bind_node(df, nxt, bound)
                df = df.filter(F.col("__dst") == dst_key()).drop("__dst")
            else:
                df = df.join(pairs, dst_key() == pairs["__dst"]).drop("__dst")
                df = self._bind_node(df, nxt, bound)
                df = df.filter(F.col("__src") == src_key()).drop("__src")
        return df

    def _compile_optional(
        self, df: DataFrame | None, pat: Pattern, bound: dict[str, str]
    ) -> DataFrame:
        """OPTIONAL MATCH, generalized (Neo4j left-join semantics):

        - the pattern compiles STANDALONE, then LEFT-joins the working
          rows on the keys of EVERY variable it shares with the outer
          horizon (anchored anywhere in the pattern, or on several
          variables at once — e.g. ``OPTIONAL MATCH (f)-[:CALLS]->(g)``
          with both f and g bound tests edge existence, multiplying per
          matching relationship, Neo4j-style);
        - a pattern sharing NO variable left-joins on TRUE — Cypher's
          optional cartesian: every combination when the arm matches
          anything, one NULL-extended row per outer row when it's empty;
        - a ``WHERE`` following the OPTIONAL MATCH is CLAUSE-SCOPED
          (pat.where): it filters the optional rows BEFORE the join, so
          outer rows whose optional arm fails the predicate survive
          with NULLs.  The predicate may reference only variables bound
          inside the pattern (correlated predicates against other outer
          variables are rejected loudly)."""
        if df is None:
            raise ValueError("cypher: OPTIONAL MATCH needs a preceding MATCH")
        shared: list[str] = []
        for n in pat.nodes:
            if n.var in bound and n.var not in shared:
                if bound[n.var] == SCALAR:
                    raise ValueError(
                        f"cypher: OPTIONAL MATCH cannot re-match scalar {n.var}"
                    )
                if n.label and n.label != bound[n.var]:
                    raise ValueError(
                        f"cypher: ({n.var}) is :{bound[n.var]}, not :{n.label}"
                    )
                n.label = bound[n.var]
                shared.append(n.var)
        sub_bound: dict[str, str] = {}
        sub = self._compile_pattern(
            None, Pattern(pat.nodes, pat.edges), sub_bound
        )
        if pat.where is not None:
            sub = self._attach_exists(sub, pat.where, sub_bound)
            sub = sub.filter(self._predicate(pat.where, sub_bound))
            sub = sub.drop(*self._exists_markers.values())
            self._exists_markers = {}
        cond = None
        opt_keys: list[str] = []
        for i, v in enumerate(shared):
            key = self._key_col(v, bound[v])
            dup = [c for c in sub.columns if c.startswith(f"{v}__") and c != key]
            okey = f"__opt_key{i}"
            sub = sub.drop(*dup).withColumnRenamed(key, okey)
            opt_keys.append(okey)
            c = F.col(key) == F.col(okey)
            cond = c if cond is None else cond & c
        out = df.join(sub, cond if cond is not None else F.lit(True), "left")
        out = out.drop(*opt_keys)
        for v, lbl in sub_bound.items():
            if v not in bound:
                bound[v] = lbl
        return out

    def _edge_pairs(self, e: EdgePat) -> DataFrame:
        types = list(e.types)
        identity_only = not types
        if identity_only:
            # untyped [r]: every relationship, identity + type only
            # (keys cast to string — the any-node join key space)
            types = list(EDGE_TYPES)
        frames = []
        for t in types:
            table, _sl, sc, _dl, dc = EDGE_TYPES[t]
            ed = self.tables[table]
            for p, v in e.props.items():  # [r:T {prop: lit}] inline filter
                if p not in ed.columns:
                    raise ValueError(f"cypher: :{t} has no property {p}")
                ed = ed.filter(F.col(p) == F.lit(v))
            if identity_only:
                cols = [
                    F.col(sc).cast("string").alias("__src"),
                    F.col(dc).cast("string").alias("__dst"),
                ]
            else:
                cols = [F.col(sc).alias("__src"), F.col(dc).alias("__dst")]
                if e.var:
                    cols += [
                        F.col(c).alias(f"{e.var}__{c}")
                        for c in ed.columns
                        if c not in (sc, dc)
                    ]
            if e.var:
                cols.append(F.lit(t).alias(f"{e.var}____type"))
                self._edge_vars.add(e.var)
            frames.append(ed.select(cols))
        out = frames[0]
        for f2 in frames[1:]:
            out = out.unionByName(f2, allowMissingColumns=True)
        # Cypher emits one row PER RELATIONSHIP: a pair present in both
        # CONTAINS and IMPORTS matches twice — no dedup here (faithful)
        return out

    def _varlen_paths(self, varlen: tuple[int, int]) -> DataFrame:
        """One (__src, __dst) row per RELATIONSHIP-UNIQUE :CALLS path of
        length in [lo, hi] — Cypher's one-row-per-path multiplicity for
        var-length patterns WITHOUT a path variable (the path variable
        case is :meth:`_compile_path`).  Relationship identity is the
        engine's per-type MERGE key (src, dst, offset)
        (sources/warehouse.py E10), matching the reference's Neo4j
        store where a re-imported duplicate call row MERGEs into one
        relationship.  The frontier carries only the eid array needed
        for the no-repeated-relationship rule; node/offset arrays are
        never materialized (nothing can project them without a path
        variable)."""
        lo, hi = varlen
        if not (1 <= lo <= hi <= 10):
            raise ValueError("cypher: *lo..hi must satisfy 1 <= lo <= hi <= 10")
        edges = (
            self.tables["calls"]
            .select(
                F.col("src_uid").alias("__esrc"),
                F.col("dst_uid").alias("__edst"),
                F.concat_ws("⊕", "src_uid", "dst_uid", "offset").alias("__eid"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        one = edges.select(
            F.col("__esrc").alias("__src"),
            F.col("__edst").alias("__dst"),
            F.array("__eid").alias("__eids"),
        )

        def step(cur: DataFrame) -> DataFrame:
            return (
                cur.join(edges, F.col("__dst") == F.col("__esrc"))
                .filter(~F.array_contains(F.col("__eids"), F.col("__eid")))
                .select(
                    "__src",
                    F.col("__edst").alias("__dst"),
                    F.array_append(F.col("__eids"), F.col("__eid")).alias("__eids"),
                )
            )

        # level d of the loop holds the paths of length d + 1
        acc = one if lo <= 1 else one.filter(F.lit(False))
        for depth, cur in frontier_levels(one, step, hi - 1):
            if depth + 1 >= lo:
                acc = acc.unionByName(cur)
        return acc.select("__src", "__dst")

    def _varlen_pairs(self, hi: int) -> DataFrame:
        """DISTINCT (src, dst) pairs connected by a :CALLS path with
        length in [1, hi] — frontier iteration with per-level distinct
        (the reachable() shape; lineage stays hi-bounded).  Used ONLY
        when :meth:`_multiplicity_insensitive` proves the consuming
        clause cannot observe per-path multiplicity AND lo == 1 — the
        scale-correct plan for DISTINCT/count-distinct queries, where
        full path enumeration would do exponentially more work for an
        identical result.

        lo == 1 is load-bearing, not an optimization detail: this
        iteration enumerates WALK endpoints (an edge may repeat across
        levels), while Cypher var-length semantics count only
        relationship-unique paths.  At lo == 1 the endpoint SETS
        coincide (any walk a→b contains a rel-unique path a→b of length
        in [1, hi]); at lo >= 2 they can differ (self-loop 1→1: walk of
        length 2 exists, rel-unique path of length 2 does not), so the
        caller never routes lo >= 2 here."""
        if not (1 <= hi <= 10):
            raise ValueError("cypher: *lo..hi must satisfy 1 <= lo <= hi <= 10")
        edges = self.tables["calls"].select(
            F.col("src_uid").alias("__src"), F.col("dst_uid").alias("__dst")
        ).distinct()
        level = acc = edges
        for _depth in range(2, hi + 1):
            level = (
                level.alias("l")
                .join(edges.alias("e"), F.col("l.__dst") == F.col("e.__src"))
                .select(F.col("l.__src").alias("__src"), F.col("e.__dst").alias("__dst"))
                .distinct()
            )
            acc = acc.unionByName(level)
        return acc.distinct()

    def _predicate(self, expr, bound: dict[str, str]) -> Column:
        if isinstance(expr, BoolExpr):
            if expr.op == "not":
                return ~self._predicate(expr.args[0], bound)
            parts = [self._predicate(a, bound) for a in expr.args]
            return parts[0] & parts[1] if expr.op == "and" else parts[0] | parts[1]
        if isinstance(expr, ExistsPat):
            mk = self._exists_markers.get(id(expr))
            if mk is None:
                raise ValueError("cypher: internal — EXISTS marker not attached")
            return F.col(mk).isNotNull()
        if isinstance(expr, (AllScoped, AllRelPred)):
            raise ValueError(
                "cypher: ALL(...) is supported only as a top-level AND conjunct "
                "alongside a path pattern"
            )
        assert isinstance(expr, Comparison)
        var, prop = expr.left
        col = self._prop_col(var, prop, bound)
        if expr.op == "in":
            return col.isin([F.lit(x) for x in expr.right])
        if isinstance(expr.right, Ref):
            lit = self._prop_col(expr.right.var, expr.right.prop, bound)
        else:
            lit = F.lit(expr.right)
        return {
            "=": lambda: col == lit,
            "<>": lambda: col != lit,
            "<": lambda: col < lit,
            "<=": lambda: col <= lit,
            ">": lambda: col > lit,
            ">=": lambda: col >= lit,
            "contains": lambda: col.contains(lit),
            "startswith": lambda: col.startswith(lit),
            "endswith": lambda: col.endswith(lit),
        }[expr.op]()

    def _rel_predicate(self, expr, iter_var: str, calls: DataFrame) -> Column:
        """Compile an ALL-relationships predicate tree against the edge
        table's own columns (parser guarantees: comparisons on
        ``iter_var.prop`` vs literals only)."""
        if isinstance(expr, BoolExpr):
            if expr.op == "not":
                return ~self._rel_predicate(expr.args[0], iter_var, calls)
            parts = [self._rel_predicate(a, iter_var, calls) for a in expr.args]
            return parts[0] & parts[1] if expr.op == "and" else parts[0] | parts[1]
        assert isinstance(expr, Comparison)
        _var, prop = expr.left
        if prop not in calls.columns:
            raise ValueError(
                f"cypher: relationship property {iter_var}.{prop} does not "
                f"exist on :CALLS (have: {[c for c in calls.columns]})"
            )
        if expr.op == "in":
            return F.col(prop).isin([F.lit(x) for x in expr.right])
        col, lit = F.col(prop), F.lit(expr.right)
        return {
            "=": lambda: col == lit,
            "<>": lambda: col != lit,
            "<": lambda: col < lit,
            "<=": lambda: col <= lit,
            ">": lambda: col > lit,
            ">=": lambda: col >= lit,
            "contains": lambda: col.contains(lit),
            "startswith": lambda: col.startswith(lit),
            "endswith": lambda: col.endswith(lit),
        }[expr.op]()

    @staticmethod
    def _apply_order(out: DataFrame, order: list[tuple[str, bool]], names: dict[str, str]) -> DataFrame:
        """Resolve ORDER BY against the RETURN surface (aliases or
        var.prop of returned items) — shared by the grouped and plain
        branches."""
        if not order:
            return out
        order_cols = []
        for name, asc in order:
            if name not in names:
                raise ValueError(
                    f"cypher: ORDER BY {name} must reference a returned "
                    f"column or alias (have: {sorted(set(names))})"
                )
            c = F.col(names[name])
            order_cols.append(c.asc() if asc else c.desc())
        return out.orderBy(*order_cols)

    def _path_info(self, var: str | None) -> dict[str, str]:
        if var not in self._path_vars:
            raise ValueError(f"cypher: {var} is not a path variable")
        return self._path_vars[var]

    def _item_cols(self, it: ReturnItem, bound: dict[str, str]) -> list[tuple[str, Column, list[str]]]:
        """Expand one non-aggregate RETURN item to output columns:
        (output name, column expr, the ORDER BY spellings that resolve
        to it).  Whole nodes expand to one column per property."""
        if it.kind == "prop":
            name = it.alias or f"{it.var}_{it.prop}"
            return [(name, self._prop_col(it.var, it.prop, bound), [f"{it.var}.{it.prop}", name])]
        if it.kind == "path":
            info = self._path_info(it.var)
            name = it.alias or it.var
            # a Path value projects as the ordered array of node keys
            return [(name, F.transform(F.col(info["nodes"]), lambda x: x["uid"]), [name])]
        if it.kind == "path_len":
            info = self._path_info(it.var)
            name = it.alias or f"length_{it.var}"
            return [(name, F.col(info["len"]), [name])]
        if it.kind == "path_nodes_prop":
            info = self._path_info(it.var)
            if it.prop not in ("uid", "name", "address"):
                raise ValueError(
                    f"cypher: nodes(path) comprehensions support .uid/.name/.address, "
                    f"not .{it.prop}"
                )
            name = it.alias or f"{it.var}_nodes_{it.prop}"
            prop = it.prop
            return [(name, F.transform(F.col(info["nodes"]), lambda x: x[prop]), [name])]
        if it.kind == "path_rels_prop":
            info = self._path_info(it.var)
            if it.prop != "offset":
                raise ValueError(
                    f"cypher: relationships(path) comprehensions support .offset, "
                    f"not .{it.prop}"
                )
            name = it.alias or f"{it.var}_rels_offset"
            return [(name, F.col(info["offs"]), [name])]
        if it.kind == "node":
            if it.var in self._path_vars:  # bare `RETURN path`
                info = self._path_info(it.var)
                name = it.alias or it.var
                return [(name, F.transform(F.col(info["nodes"]), lambda x: x["uid"]), [name])]
            label = bound.get(it.var)
            if label is None:
                raise ValueError(f"cypher: unbound RETURN variable {it.var}")
            if label == SCALAR:
                name = it.alias or it.var
                return [(name, F.col(f"{it.var}____val"), [it.var, name])]
            prefix = it.alias or it.var
            if label == ANY:
                return [
                    (f"{prefix}_{c}", F.col(f"{it.var}____{c}"),
                     [f"{it.var}.{c}", f"{prefix}_{c}"])
                    for c in ("key", "label")
                ]
            table, _k = NODE_LABELS[label]
            return [
                (f"{prefix}_{c}", F.col(f"{it.var}__{c}"), [f"{it.var}.{c}", f"{prefix}_{c}"])
                for c in self.tables[table].columns
            ]
        raise ValueError(f"cypher: unsupported RETURN item kind {it.kind}")

    _AGG_KINDS = ("count_star", "count_var", "count_distinct_var",
                  "agg_sum", "agg_min", "agg_max", "agg_avg", "agg_collect")

    @classmethod
    def _is_agg(cls, kind: str) -> bool:
        return kind in cls._AGG_KINDS

    def _agg_expr(self, it: ReturnItem, bound: dict[str, str], name: str) -> Column:
        if it.kind == "count_star":
            return F.count(F.lit(1)).alias(name)
        if it.kind == "count_distinct_var":
            return F.countDistinct(self._count_target(it.var, bound)).alias(name)
        if it.kind == "count_var":
            return F.count(self._count_target(it.var, bound)).alias(name)
        if it.kind == "agg_collect":
            # Neo4j's collect() is unordered; we sort for determinism
            # (documented divergence — a stable list beats a flaky one)
            target = (
                self._count_target(it.var, bound)
                if it.prop is None and bound.get(it.var) not in (SCALAR,)
                else self._prop_col(it.var, it.prop, bound)
            )
            return F.array_sort(F.collect_list(target)).alias(name)
        fn = {"agg_sum": F.sum, "agg_min": F.min, "agg_max": F.max, "agg_avg": F.avg}[it.kind]
        out = fn(self._prop_col(it.var, it.prop, bound))
        if it.kind == "agg_avg":
            out = out.cast("double")
        return out.alias(name)

    def _count_target(self, var: str, bound: dict[str, str]) -> Column:
        if var in self._edge_vars:
            return F.col(f"{var}____type")  # one non-null per matched edge
        label = bound.get(var)
        if label is None:
            raise ValueError(f"cypher: count() of unbound variable {var}")
        if label == SCALAR:
            return F.col(f"{var}____val")
        return F.col(self._key_col(var, label))

    def _returns(self, df: DataFrame, q: Query, bound: dict[str, str]) -> DataFrame:
        agg = [i for i in q.items if self._is_agg(i.kind)]
        if agg:
            # Cypher's implicit grouping: non-aggregate RETURN items are
            # the grouping keys (RETURN f.name, count(*) groups by name)
            keys, key_names = [], {}
            for it in q.items:
                if self._is_agg(it.kind):
                    continue
                for name, col, spellings in self._item_cols(it, bound):
                    keys.append(col.alias(name))
                    for s in spellings:
                        key_names[s] = name
            outs = []
            for i, it in enumerate(agg):
                name = it.alias or f"{it.kind.removeprefix('agg_')}_{i}"
                key_names[name] = name
                outs.append(self._agg_expr(it, bound, name))
            out = df.groupBy(*keys).agg(*outs) if keys else df.agg(*outs)
            out = self._apply_order(out, q.order, key_names)
        else:
            cols = []
            out_names: dict[str, str] = {}  # 'var.prop' / alias -> output col
            for it in q.items:
                for name, col, spellings in self._item_cols(it, bound):
                    cols.append(col.alias(name))
                    for s in spellings:
                        out_names[s] = name
            out = df.select(cols)
            if q.distinct:
                out = out.distinct()
            out = self._apply_order(out, q.order, out_names)
        if q.skip:
            out = out.offset(q.skip)
        if q.limit is not None:
            out = out.limit(q.limit)
        return out


def cypher(tables: dict[str, DataFrame], text: str, params: dict | None = None) -> DataFrame:
    """Parse + compile a Cypher-subset query over the graph tables."""
    return CypherCompiler(tables).compile(CypherParser(text, params).parse())


# ------------------------------------------------------- write statements


@dataclass(frozen=True)
class Param:
    """Unresolved ``$name`` placeholder in a statement TEMPLATE — the
    batch executor binds it to the params DataFrame's column of the
    same name (one template parse, N rows bound set-orientedly)."""

    name: str


@dataclass(frozen=True)
class PropExpr:
    """A SET value that references the bound variable's OWN stored
    property — Neo4j's counter idiom (``SET f.count = f.count + 1``)
    and property copy (``SET f.a = f.b``).  ``op`` is '+', '-' or None
    (plain copy); ``operand`` a literal/param when ``op`` is set.
    Resolved against the stored row at execution time; NULL propagates
    (Neo4j: NULL + 1 IS NULL)."""

    prop: str
    op: str | None = None
    operand: object = None


class _TemplateParams(dict):
    """Parameter mapping that resolves every ``$name`` to a
    :class:`Param` marker instead of a value — parse once as a
    template, bind per-row later."""

    def __bool__(self) -> bool:  # noqa: D105 — survive `params or {}`
        return True

    def __contains__(self, _k) -> bool:  # noqa: D105
        return True

    def __getitem__(self, k) -> Param:  # noqa: D105
        return Param(k)


@dataclass
class WriteStmt:
    kind: str  # 'merge_node' | 'create_node' | 'merge_edge' | 'clear'
    #        | 'delete_node' | 'delete_edge' | 'index'
    label: str | None = None  # node label or edge type
    key_props: dict[str, object] = field(default_factory=dict)
    set_props: dict[str, object] = field(default_factory=dict)
    src: tuple[str, str, dict] | None = None  # (label, keycol, props) of MATCH'd src
    dst: tuple[str, str, dict] | None = None
    detach: bool = False  # delete_node: also remove incident edges
    #: conditional MERGE arms (Neo4j's upsert idiom): ON CREATE SET
    #: applies only when the merge CREATES the row, ON MATCH SET only
    #: when it finds one; plain SET applies to both.  REMOVE nulls the
    #: listed properties on whatever the merge bound (both arms).
    on_create: dict[str, object] = field(default_factory=dict)
    on_match: dict[str, object] = field(default_factory=dict)
    remove: list[str] = field(default_factory=list)


class CypherWriteParser(CypherParser):
    """The reference's write statements (importer.rs:86-320,
    connection.rs:170, schema.rs:44-51):

    - ``MERGE (v:Label {key: $p}) [SET v.p = $x, ...]`` — node upsert
    - ``CREATE (v:Label {key: $p, prop: $x, ...})`` — node insert
      (raises on an existing key: the graph model keys every label, so
      Neo4j's duplicate-node CREATE cannot be represented; failing loud
      beats silently merging)
    - ``MATCH (a:L1 {k: $p}), (b:L2 {k: $p}) MERGE (a)-[r:TYPE {props}]->(b)
      [SET r.p = $x, ...]`` — edge upsert between matched nodes
    - ``MATCH (v:Label {key: $p}) [DETACH] DELETE v`` — node delete;
      DETACH also deletes incident edges, plain DELETE raises if any
      exist (Neo4j's constraint)
    - ``MATCH (a:L1 {k: $p})-[r:TYPE]->(b:L2 {k: $p}) DELETE r`` —
      edge delete
    - ``MATCH (n) DETACH DELETE n`` — clear database
    - ``CREATE [FULLTEXT] INDEX ... [IF NOT EXISTS] FOR ... ON ...`` —
      accepted and acknowledged as a no-op: the engine's zone maps,
      bloom sidecars and posting tables are its indexes; the statement
      exists so the reference's schema-init script replays verbatim
    """

    #: set by an ``UNWIND $rows AS r`` prefix: (rows-or-Param, var name)
    unwind: tuple | None = None

    def parse_write(self) -> WriteStmt:
        if self._accept_word("UNWIND"):
            # the idiomatic Neo4j BULK form: UNWIND $rows AS r MERGE …
            # — each row of the $rows list binds the statement once;
            # compiled to ONE set-oriented merge, not a row loop
            k, v = self._next()
            if k != "param":
                raise ValueError("cypher write: UNWIND takes a $param list")
            name = v[1:]
            if name not in self.params:
                raise ValueError(f"cypher: missing parameter ${name}")
            rows = self.params[name]
            if not self._accept("kw", "AS"):
                raise ValueError("cypher write: UNWIND $rows AS <var>")
            var = self._expect("word")
            self.unwind = (rows, var)
        if self._accept_word("MERGE"):
            stmt = self._merge_node()
        elif self._accept_word("CREATE"):
            stmt = self._create_stmt()
        elif self._accept("kw", "MATCH"):
            stmt = self._match_stmt()
        else:
            raise ValueError(
                "cypher write: statement must start with MERGE, CREATE or MATCH"
            )
        if self.unwind is not None and stmt.kind not in (
            "merge_node", "merge_edge", "create_node",
        ):
            raise ValueError(
                f"cypher write: UNWIND supports MERGE/CREATE forms, not {stmt.kind}"
            )
        k, v = self._peek()
        if k is not None:
            raise ValueError(f"cypher write: trailing input at {v!r}")
        return stmt

    def _literal(self):
        # inside an UNWIND statement, `r.field` references the row's
        # field — compiled to a column binding of the rows DataFrame
        k, v = self._peek()
        if k == "word" and self.unwind is not None and v == self.unwind[1]:
            self._next()
            self._expect("sym", ".")
            return Param(self._name())
        return super()._literal()

    def _merge_node(self) -> WriteStmt:
        n = self._node()
        if n.label is None or not n.props:
            raise ValueError("cypher write: MERGE needs (v:Label {key: $param})")
        _table, key = NODE_LABELS[n.label]
        if list(n.props) != [key]:
            raise ValueError(
                f"cypher write: MERGE on :{n.label} must key on {{{key}}} "
                f"(the unique constraint), got {list(n.props)}"
            )
        set_props, on_create, on_match, remove = self._merge_arms(n.var, {key})
        return WriteStmt(
            "merge_node", n.label, dict(n.props), set_props,
            on_create=on_create, on_match=on_match, remove=remove,
        )

    def _merge_arms(
        self, var: str | None, forbidden: set[str]
    ) -> tuple[dict, dict, dict, list[str]]:
        """The full Neo4j upsert tail after a MERGE pattern, any order:
        ``ON CREATE SET …``, ``ON MATCH SET …``, plain ``SET …``
        (including ``var += $map``), ``REMOVE var.prop, …``.  Returns
        (set_props, on_create, on_match, remove) with the conflict
        rules enforced: a property may appear in plain SET or in the
        conditional arms (both arms together is the classic idiom) or
        in REMOVE — never across those groups, and never the key."""
        set_props: dict[str, object] = {}
        on_create: dict[str, object] = {}
        on_match: dict[str, object] = {}
        remove: list[str] = []
        while True:
            if self._accept_word("ON"):
                if self._accept_word("CREATE"):
                    arm = on_create
                elif self._accept_word("MATCH") or self._accept("kw", "MATCH"):
                    arm = on_match
                else:
                    raise ValueError("cypher write: ON must be ON CREATE / ON MATCH")
                got = self._set_clause(var, require=True)
                dup = sorted(set(arm) & set(got))
                if dup:
                    raise ValueError(f"cypher write: duplicate arm assignment {dup}")
                arm.update(got)
            elif self._peek_word("SET"):
                got = self._set_clause(var)
                dup = sorted(set(set_props) & set(got))
                if dup:
                    raise ValueError(f"cypher write: duplicate SET assignment {dup}")
                set_props.update(got)
            elif self._accept_word("REMOVE"):
                while True:
                    v = self._expect("word")
                    if var is not None and v != var:
                        raise ValueError(
                            f"cypher write: REMOVE must name {var}.prop, got {v}"
                        )
                    self._expect("sym", ".")
                    remove.append(self._name())
                    if not self._accept("sym", ","):
                        break
            else:
                break
        groups = {
            "SET": set(set_props),
            "ON CREATE/ON MATCH": set(on_create) | set(on_match),
            "REMOVE": set(remove),
        }
        names = list(groups)
        for i, a in enumerate(names):
            for b in names[i + 1:]:
                dup = sorted(groups[a] & groups[b])
                if dup:
                    raise ValueError(
                        f"cypher write: {dup} assigned in both {a} and {b}"
                    )
        assigned = set(set_props) | set(on_create) | set(on_match) | set(remove)
        bad = sorted(assigned & forbidden)
        if bad:
            raise ValueError(
                f"cypher write: cannot SET/REMOVE the merge key column(s) {bad}"
            )
        return set_props, on_create, on_match, remove

    def _create_stmt(self) -> WriteStmt:
        # CREATE [FULLTEXT] INDEX ... — schema.rs's init statements:
        # acknowledge and consume (no-op; see class docstring)
        if self._peek_word("INDEX", "FULLTEXT", "CONSTRAINT"):
            while self._peek()[0] is not None:
                self._next()
            return WriteStmt("index")
        n = self._node()
        if n.label is None or not n.props:
            raise ValueError("cypher write: CREATE needs (v:Label {key: ..., ...})")
        _table, key = NODE_LABELS[n.label]
        if key not in n.props:
            raise ValueError(
                f"cypher write: CREATE on :{n.label} must bind the key {{{key}}}"
            )
        props = dict(n.props)
        return WriteStmt(
            "create_node", n.label, {key: props[key]},
            {p: v for p, v in props.items() if p != key},
        )

    def _match_stmt(self) -> WriteStmt:
        first = self._node()
        if first.label is None and not first.props:
            # MATCH (n) DETACH DELETE n
            if not (self._accept_word("DETACH") and self._accept_word("DELETE")):
                raise ValueError("cypher write: label-less MATCH supports DETACH DELETE only")
            if self._name() != first.var:
                raise ValueError("cypher write: DETACH DELETE must name the matched variable")
            return WriteStmt("clear")
        if first.label is not None and self._peek_word("DETACH", "DELETE"):
            # MATCH (v:Label {key: $p}) [DETACH] DELETE v
            detach = self._accept_word("DETACH")
            if not self._accept_word("DELETE"):
                raise ValueError("cypher write: expected DELETE")
            if self._name() != first.var:
                raise ValueError("cypher write: DELETE must name the matched variable")
            _table, key = NODE_LABELS[first.label]
            if list(first.props) != [key]:
                raise ValueError(
                    f"cypher write: DELETE on :{first.label} must key on {{{key}}}"
                )
            return WriteStmt(
                "delete_node", first.label, dict(first.props), detach=detach
            )
        k, v = self._peek()
        if k == "sym" and v in ("-", "<-"):
            # MATCH (a:L {k:$p})-[r:T]->(b:L {k:$p}) DELETE r — edge delete
            edge = self._edge()
            second = self._node()
            if not self._accept_word("DELETE"):
                raise ValueError("cypher write: pattern MATCH must end in DELETE r")
            if edge.var is None or self._name() != edge.var:
                raise ValueError("cypher write: DELETE must name the relationship variable")
            if len(edge.types) != 1 or edge.varlen:
                raise ValueError("cypher write: DELETE needs a single concrete relationship type")
            lhs, rhs = (second, first) if edge.direction == "<-" else (first, second)
            ty = edge.types[0]
            _table, sl, _sc, dl, _dc = EDGE_TYPES[ty]
            for n, want in ((lhs, sl), (rhs, dl)):
                if n.label != want or list(n.props) != [NODE_LABELS[want][1]]:
                    raise ValueError(
                        f"cypher write: ({n.var}:{n.label}) must be keyed :{want} for :{ty}"
                    )
            return WriteStmt(
                "delete_edge", ty, dict(edge.props),
                src=(lhs.label, NODE_LABELS[lhs.label][1], dict(lhs.props)),
                dst=(rhs.label, NODE_LABELS[rhs.label][1], dict(rhs.props)),
            )
        self._expect("sym", ",")
        second = self._node()
        for n in (first, second):
            if n.label is None or not n.props:
                raise ValueError("cypher write: MATCH endpoints need (v:Label {key: $param})")
        if not self._accept_word("MERGE"):
            raise ValueError("cypher write: MATCH ... must be followed by MERGE")
        lhs = self._node()
        edge = self._edge()
        rhs = self._node()
        by_var = {first.var: first, second.var: second}
        if lhs.var not in by_var or rhs.var not in by_var or lhs.var == rhs.var:
            raise ValueError("cypher write: MERGE endpoints must be the two MATCH'd variables")
        if len(edge.types) != 1 or edge.varlen:
            raise ValueError("cypher write: MERGE needs a single concrete relationship type")
        if edge.direction == "<-":
            lhs, rhs = rhs, lhs
        sn, dn = by_var[lhs.var], by_var[rhs.var]
        ty = edge.types[0]
        table, sl, _sc, dl, _dc = EDGE_TYPES[ty]
        for n, want in ((sn, sl), (dn, dl)):
            if n.label != want:
                raise ValueError(
                    f"cypher write: ({n.var}:{n.label}) cannot anchor :{ty} (needs :{want})"
                )
        if edge.var:
            set_props, on_create, on_match, remove = self._merge_arms(
                edge.var, {_sc, _dc}
            )
        else:
            set_props, on_create, on_match, remove = {}, {}, {}, []
        return WriteStmt(
            "merge_edge",
            ty,
            dict(edge.props),
            set_props,
            src=(sn.label, NODE_LABELS[sn.label][1], dict(sn.props)),
            dst=(dn.label, NODE_LABELS[dn.label][1], dict(dn.props)),
            on_create=on_create,
            on_match=on_match,
            remove=remove,
        )

    def _set_clause(self, var: str | None, *, require: bool = False) -> dict[str, object]:
        out: dict[str, object] = {}
        if not self._accept_word("SET"):
            if require:
                raise ValueError("cypher write: expected SET after ON CREATE / ON MATCH")
            return out
        while True:
            v = self._expect("word")
            if var is not None and v != var:
                raise ValueError(f"cypher write: SET must assign {var}.prop, got {v}")
            if self._accept("sym", "+="):
                # SET v += $map — Neo4j's non-destructive property-map
                # merge: every (prop, value) of the bound map becomes an
                # assignment; the map must be a REAL parameter value
                # (the template/batch lane has no per-row maps)
                k, pv = self._next()
                if k != "param":
                    raise ValueError("cypher write: SET += takes a $param map")
                name = pv[1:]
                if name not in self.params:
                    raise ValueError(f"cypher: missing parameter ${name}")
                m = self.params[name]
                if isinstance(m, Param):
                    raise ValueError(
                        "cypher write: SET += $map needs a bound map value — "
                        "the batch template lane binds scalar columns only"
                    )
                if not isinstance(m, dict):
                    raise ValueError("cypher write: SET += $map must bind a map")
                for prop, val in m.items():
                    out[str(prop)] = val
            else:
                self._expect("sym", ".")
                prop = self._name()
                self._expect("sym", "=")
                k, pv = self._peek()
                if k == "word" and var is not None and pv == var:
                    # self-reference: SET v.p = v.q [± literal/$param]
                    # (the counter idiom / property copy)
                    self._next()
                    self._expect("sym", ".")
                    ref = self._name()
                    k2, opv = self._peek()
                    if k2 == "sym" and opv in ("+", "-"):
                        self._next()
                        out[prop] = PropExpr(ref, opv, self._literal())
                    else:
                        out[prop] = PropExpr(ref)
                else:
                    out[prop] = self._literal()
            if not self._accept("sym", ","):
                break
        return out


def _incident_edges(label: str) -> list[tuple[str, str]]:
    """Every (edge_table, endpoint_column) pair a node of ``label`` can
    touch — the DETACH DELETE / DELETE-constraint sweep list."""
    out = []
    for _ty, (table, sl, sc, dl, dc) in EDGE_TYPES.items():
        if sl == label:
            out.append((table, sc))
        if dl == label:
            out.append((table, dc))
    return out


def cypher_write(wh, text: str, params: dict | None = None) -> dict:
    """Execute one reference write statement against the warehouse.

    This is the per-statement compat shim for the reference's importer
    calls (one MERGE per entity, importer.rs:86-320) — bulk ingestion
    goes through :func:`cypher_write_batch` or the CLI's set-oriented
    ETL.  Node SET semantics match Neo4j: only the listed properties
    change; unmentioned columns keep their stored values (or NULL on
    first create).  A MATCH whose endpoints don't exist merges nothing
    (zero matched rows).

    Returns {"table": name, "rows": n} ("clear" for DETACH DELETE of
    everything, "index" for CREATE INDEX acks).
    """
    from .sources.warehouse import ALL_TABLES, MERGE_KEYS

    parser = CypherWriteParser(text, params)
    stmt = parser.parse_write()
    if parser.unwind is not None:
        # UNWIND $rows AS r — bind each row dict, execute as ONE
        # set-oriented merge in list order (Cypher's sequential
        # statement semantics via the _seq order column)
        rows, _var = parser.unwind
        if not isinstance(rows, (list, tuple)) or not all(
            isinstance(r, dict) for r in rows
        ):
            raise ValueError("cypher write: UNWIND $rows must be a list of maps")
        if not rows:
            return {"table": None, "rows": 0}
        cols = sorted({k for r in rows for k in r})
        data = [tuple(r.get(c) for c in cols) + (i,) for i, r in enumerate(rows)]
        df = wh.spark.createDataFrame(data, cols + ["_seq"])
        return _execute_write_batch(wh, stmt, df, order_cols=["_seq"])
    if stmt.kind == "clear":
        wh.clear()
        return {"table": "clear", "rows": 0}
    if stmt.kind == "index":
        return {"table": "index", "rows": 0}

    if stmt.kind == "delete_node":
        table, key = NODE_LABELS[stmt.label]
        val = stmt.key_props[key]
        incident = _incident_edges(stmt.label)
        if not stmt.detach:
            for etab, col in incident:
                if not wh.read(etab).filter(F.col(col) == F.lit(val)).isEmpty():
                    raise ValueError(
                        f"cypher write: cannot DELETE :{stmt.label} {{{key}: "
                        f"{val!r}}} — it still has :{etab} relationships "
                        f"(use DETACH DELETE)"
                    )
        rows = 0
        if stmt.detach:
            for etab, col in incident:
                d = wh.delete_where(etab, [(col, "=", val)])
                rows += d["rows_deleted"]
        d = wh.delete_where(table, [(key, "=", val)])
        return {"table": table, "rows": d["rows_deleted"] + rows}

    if stmt.kind == "delete_edge":
        table, _sl, sc, _dl, dc = EDGE_TYPES[stmt.label]
        _l1, skey, sprops = stmt.src
        _l2, dkey, dprops = stmt.dst
        preds = [(sc, "=", sprops[skey]), (dc, "=", dprops[dkey])]
        preds += [(p, "=", v) for p, v in stmt.key_props.items()]
        d = wh.delete_where(table, preds)
        return {"table": table, "rows": d["rows_deleted"]}

    if stmt.kind == "create_node":
        table, key = NODE_LABELS[stmt.label]
        val = stmt.key_props[key]
        if not wh.read(table).filter(F.col(key) == F.lit(val)).isEmpty():
            raise ValueError(
                f"cypher write: CREATE (:{stmt.label} {{{key}: {val!r}}}) — "
                f"node already exists (every label is keyed; use MERGE)"
            )
        stmt = WriteStmt("merge_node", stmt.label, stmt.key_props, stmt.set_props)

    if stmt.kind == "merge_node":
        table, key = NODE_LABELS[stmt.label]
        row_key = {key: stmt.key_props[key]}
        new_props = {**row_key, **stmt.set_props}
    else:
        table, _sl, sc, _dl, dc = EDGE_TYPES[stmt.label]
        sl, skey, sprops = stmt.src
        dl, dkey, dprops = stmt.dst
        # MATCH precondition: both endpoints must exist
        for lbl, kcol, props in (stmt.src, stmt.dst):
            ntab, _k = NODE_LABELS[lbl]
            hit = wh.read(ntab).filter(F.col(kcol) == F.lit(props[kcol])).limit(1)
            if hit.isEmpty():
                return {"table": table, "rows": 0}
        row_key = {sc: sprops[skey], dc: dprops[dkey], **stmt.key_props}
        new_props = {**row_key, **stmt.set_props}

    schema, _k = ALL_TABLES[table]
    names = [f.name for f in schema.fields]
    for p in (
        set(new_props) | set(stmt.on_create) | set(stmt.on_match) | set(stmt.remove)
    ):
        if p not in names:
            raise ValueError(f"cypher write: {table} has no column {p}")
    keys = MERGE_KEYS[table]
    # partial-SET semantics: start from the stored row when one exists
    existing = wh.read(table)
    for k in keys:
        if k not in new_props:
            raise ValueError(f"cypher write: MERGE on {table} must bind key column {k}")
        existing = existing.filter(F.col(k) == F.lit(new_props[k]))
    stored = existing.limit(1).collect()
    base = stored[0].asDict() if stored else {n: None for n in names}
    # SQL/Neo4j SET semantics: every RHS — including self-references
    # (PropExpr: `SET f.count = f.count + 1`) — evaluates against the
    # OLD row, so assignments never see each other
    old = dict(base)

    def _resolve(v):
        if not isinstance(v, PropExpr):
            return v
        if v.prop not in old:
            raise ValueError(f"cypher write: {table} has no column {v.prop}")
        cur = old[v.prop]
        if v.op is None:
            return cur
        if cur is None:
            return None  # Neo4j: NULL + x IS NULL
        return cur + v.operand if v.op == "+" else cur - v.operand

    base.update({k: _resolve(v) for k, v in new_props.items()})
    # conditional arms (Neo4j): the arm matching this row's fate
    # applies; REMOVE nulls its properties on either fate
    arm = stmt.on_match if stored else stmt.on_create
    base.update({k: _resolve(v) for k, v in arm.items()})
    for p in stmt.remove:
        base[p] = None
    one = wh.spark.createDataFrame([tuple(base[n] for n in names)], schema)
    wh.merge_batch({table: one})
    return {"table": table, "rows": 1}


def cypher_write_batch(
    wh,
    text: str,
    params: DataFrame,
    *,
    order_cols: list[str] | None = None,
    batch_seq: int = 1,
) -> dict:
    """SET-ORIENTED execution of ONE write-statement template over a
    whole DataFrame of parameter rows — the scale lane for the
    reference's import surface (importer.rs:86-320 issues one Bolt
    round trip PER ENTITY; this compiles the same verbatim template
    once and commits all N bindings as one LWW merge).

    ``params`` columns bind the template's ``$name`` placeholders by
    name.  ``order_cols`` (columns of ``params``) define the within-
    batch statement order for Cypher's sequential semantics: duplicate
    MERGE keys collapse last-write-wins by that order BEFORE the
    commit, exactly like replaying the statements one at a time.
    Without ``order_cols``, duplicate keys must agree on every bound
    value (order can't matter); full-row duplicates are collapsed.

    Semantics per statement kind:

    - ``MERGE (v:Label {key: $k}) SET ...`` — node upsert.  Partial
      SET matches Neo4j: unmentioned columns keep their stored value
      (NULL on first create) — one left join against the stored table,
      no per-row reads.
    - ``MATCH (a:…), (b:…) MERGE (a)-[r:TYPE …]->(b) [SET …]`` — edge
      upsert.  The MATCH precondition (both endpoints exist) becomes
      two semi-joins against the node tables — rows whose endpoints
      are missing merge nothing, same as a MATCH that found no rows.
    - ``MATCH (n) DETACH DELETE n`` — clears the database (params
      ignored).

    Scale shape: one shuffle for the LWW collapse (the same shuffle
    MERGE INTO needs), broadcast-or-shuffle semi-joins Catalyst picks
    by size, one manifest commit (bucketed tables rewrite only touched
    key-buckets via merge_batch_incremental).  No driver-side loops,
    no per-row round trips.

    Returns {"table": name, "rows": merged-row-count}.
    """
    stmt = CypherWriteParser(text, _TemplateParams()).parse_write()
    if stmt.kind == "clear":
        wh.clear()
        return {"table": "clear", "rows": 0}
    if stmt.kind == "index":
        return {"table": "index", "rows": 0}
    if stmt.kind not in ("merge_node", "merge_edge", "create_node"):
        raise ValueError(
            f"cypher write batch: {stmt.kind} is a single-statement form — "
            f"use cypher_write (deletes take predicates, not param batches)"
        )
    return _execute_write_batch(
        wh, stmt, params, order_cols=order_cols, batch_seq=batch_seq
    )


def _execute_write_batch(
    wh,
    stmt: WriteStmt,
    params: DataFrame,
    *,
    order_cols: list[str] | None = None,
    batch_seq: int = 1,
) -> dict:
    """Execute a parsed merge/create write statement over a params
    DataFrame — the shared engine behind :func:`cypher_write_batch`
    (template text) and the ``UNWIND $rows`` bulk form."""
    from .operators.ingest import _last_wins
    from .sources.warehouse import ALL_TABLES, MERGE_KEYS

    for d in (stmt.set_props, stmt.on_create, stmt.on_match, stmt.key_props):
        for p, v in d.items():
            if isinstance(v, PropExpr):
                raise ValueError(
                    f"cypher write: self-reference assignment to {p!r} "
                    f"(SET v.{p} = v.{v.prop} …) needs the single-statement "
                    f"lane — the batch template binds scalar columns only"
                )

    def _pcol(v, dtype) -> Column:
        c = F.col(v.name) if isinstance(v, Param) else F.lit(v)
        return c.cast(dtype)

    oc, om, rmv = stmt.on_create, stmt.on_match, stmt.remove
    arm_sel = []

    if stmt.kind in ("merge_node", "create_node"):
        table, key = NODE_LABELS[stmt.label]
        schema, _k = ALL_TABLES[table]
        types = {f.name: f.dataType for f in schema.fields}
        bound = {key: stmt.key_props[key], **stmt.set_props}
        for p in set(bound) | set(oc) | set(om) | set(rmv):
            if p not in types:
                raise ValueError(f"cypher write: {table} has no column {p}")
        arm_sel = [
            _pcol(v, types[p]).alias(f"__oc_{p}") for p, v in oc.items()
        ] + [_pcol(v, types[p]).alias(f"__om_{p}") for p, v in om.items()]
        batch = params.select(
            *[_pcol(v, types[p]).alias(p) for p, v in bound.items()],
            *arm_sel,
            *(order_cols or []),
        )
    else:
        table, sl, sc, dl, dc = EDGE_TYPES[stmt.label]
        schema, _k = ALL_TABLES[table]
        types = {f.name: f.dataType for f in schema.fields}
        _l1, skey, sprops = stmt.src
        _l2, dkey, dprops = stmt.dst
        bound = {sc: sprops[skey], dc: dprops[dkey]}
        bound.update(stmt.key_props)
        bound.update(stmt.set_props)
        for p in set(bound) | set(oc) | set(om) | set(rmv):
            if p not in types:
                raise ValueError(f"cypher write: {table} has no column {p}")
        arm_sel = [
            _pcol(v, types[p]).alias(f"__oc_{p}") for p, v in oc.items()
        ] + [_pcol(v, types[p]).alias(f"__om_{p}") for p, v in om.items()]
        batch = params.select(
            *[_pcol(v, types[p]).alias(p) for p, v in bound.items()],
            *arm_sel,
            *(order_cols or []),
        )
        # MATCH precondition: endpoints must exist (importer templates
        # MATCH both nodes before MERGE) — semi-joins drop unmatched rows
        for lbl, col in ((sl, sc), (dl, dc)):
            ntab, nkey = NODE_LABELS[lbl]
            nodes = wh.read(ntab).select(F.col(nkey).alias(col))
            batch = batch.join(nodes, col, "left_semi")

    keys = MERGE_KEYS[table]
    for k in keys:
        if k not in bound:
            raise ValueError(f"cypher write: MERGE on {table} must bind key column {k}")
    arm_names = [f"__oc_{p}" for p in oc] + [f"__om_{p}" for p in om]
    if order_cols:
        batch = _last_wins(batch, keys, order_cols).select(*bound, *arm_names)
    else:
        batch = batch.dropDuplicates()

    if stmt.kind == "create_node":
        clash = wh.read(table).select(*keys).join(batch.select(*keys), keys, "left_semi")
        if not clash.isEmpty():
            raise ValueError(
                f"cypher write: CREATE batch collides with existing :{stmt.label} "
                f"keys (every label is keyed; use MERGE)"
            )

    # partial-SET: unmentioned columns keep their stored values (NULL on
    # first create) — one broadcast-or-shuffle left join, set-oriented.
    # The conditional arms ride the SAME join: a presence marker tells
    # each row its fate, ON MATCH values apply over stored rows, ON
    # CREATE values over fresh ones, REMOVE nulls either — still one
    # shuffle, no per-row reads.
    rest = [n for n in types if n not in bound]
    arm_props = set(oc) | set(om)
    if rest:
        stored = wh.read(table).select(*keys, *rest)
        if arm_props or rmv:
            stored = stored.withColumn("__stored", F.lit(True))
        batch = batch.join(stored, keys, "left")
    present = F.col("__stored").isNotNull() if (arm_props or rmv) else None

    def _final(n: str) -> Column:
        if n in rmv:
            return F.lit(None)
        if n in arm_props:
            matched_val = F.col(f"__om_{n}") if n in om else F.col(n)
            created_val = F.col(f"__oc_{n}") if n in oc else F.lit(None)
            return F.when(present, matched_val).otherwise(created_val)
        return F.col(n)

    full = batch.select(*[_final(n).cast(types[n]).alias(n) for n in types])

    mvs = wh._manifest_versions(table)
    bucketed = bool(mvs) and "buckets" in wh._manifest(table, mvs[-1])
    if bucketed:
        wh.merge_batch_incremental({table: full}, batch_seq=batch_seq)
    else:
        wh.merge_batch({table: full}, batch_seq=batch_seq)
    return {"table": table, "rows": batch.count()}
