"""GraphQL read surface over the LPG workspace — B20 parity.

The reference ships ArcadeDB's GraphQL plugin as part of the server
artifact (`/root/reference/src/pom.xml:109-113`): every vertex type is
exposed as a GraphQL object type whose fields are the vertex
properties, and relationship fields traverse edges to related
vertices. This module re-expresses that surface Spark-first: a
GraphQL read document compiles to ONE Spark SQL statement over the
workspace views (`n_<Label>` / `e_<LABEL>`,
workspace.load_workspace), so Catalyst sees the whole query —
argument values are bound as ``spark.sql`` args (the literals
``F.lit`` would build), equality arguments push down to the parquet
scan, selection sets become column pruning, and nested selections
become edge joins aggregated into `array<struct>` columns (the
natural relational encoding of GraphQL's nested lists).

Supported subset (the read path the reference's plugin serves):

    { Customer(c_mktsegment: "BUILDING", limit: 5) {
        c_name
        c_acctbal
        placed { o_orderstatus o_totalprice }
    } }

- Root field = node label → scan of the `n_<Label>` view.
- Scalar arguments = equality filters (pushed down); `limit` caps the
  root row set.
- Nested selection sets traverse relationships declared in a schema
  map (field name → edge label + direction + target label; the
  default map is derived from the workspace EDGE_SPECS, out-edges
  named after the lowercased edge label, in-edges suffixed `_rev`).
  Nested fields accept the same equality arguments.
- Nested results are `sort_array`-ed for deterministic output.

Variables are supported (``query($seg: String!, $lim: Int = 5)`` +
a ``variables`` dict — values substitute at parse time, so the
compiled plan pushes them down exactly like literals), as are named
fragments (``fragment F on T { … }`` + ``...F`` spreads, inlined
post-parse so declaration order is free; a spread into the wrong
type surfaces as the build-time unknown-field error), INLINE
fragments (``... on T { … }`` — applied when the type condition
matches the enclosing label, skipped for other known types, loud
error for unknown ones), FIELD ALIASES (``total: o_totalprice``,
spec (2.7) — the response key is the alias; the same field may be
requested twice under different aliases), the ``@skip(if:)`` /
``@include(if:)`` directives (spec (5.5) on fields, named spreads
and inline fragments; the condition is a boolean literal or
variable, evaluated at parse time exactly where variables
substitute), and introspection: ``{ __schema { types } }``
(one row per type: name + field list) plus ``{ __type(name: "T")
{ … } }`` (one row with per-field Spark types + relationship
targets/directions). Both answer SPEC-SHAPED when the client's
selection nests (queryType/mutationType, types/fields with type-ref
chains, kind, __typename) — a stock GraphiQL opening document
round-trips, with typed NULLs for unmodeled metadata. MUTATIONS get a minimal surface over the gated DML
machinery: ``mutation { create<Label>(col: v, …) }`` /
``update<Label>(filter args, _set: {col: v, …})`` /
``delete<Label>(equality args) }`` route to the workspace
insert/update/delete (cascading) behind the same ``allow_writes``
opt-in as the SQL dialect — default OFF, the reference's read-only
posture.

Scale notes (SCALE.md "Relationships"): each relationship field is
one ``relations.gather`` over the kept parent rows (kept rows LEFT
JOIN edge LEFT JOIN child, grouped by the parent's node id), one
aggregate per field, so a one-key request aggregates that key's edges
only. A root `limit` (a non-negative Int) applies to the answer; the
nested aggregates cover every root the arguments keep. No driver-side
row handling anywhere — execution returns an unmaterialized DataFrame.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession

from biodwh2_arcadedb_server_spark.workspace import EDGE_SPECS, NODE_SPECS
from biodwh2_arcadedb_server_spark.localrel import local_df
from biodwh2_arcadedb_server_spark.relations import gather, reach


def _label_case_map(rels: dict) -> dict[str, str]:
    """lowercase view suffix → declared label casing. The catalog
    stores temp-view names lowercased; true casing comes from the
    workspace NODE_SPECS first, then any relationship-map keys (which
    may add custom labels) — NOT rels alone, or a relationship-less
    label (Document) introspects as 'document' while __typename says
    'Document' (round-12 review: an Apollo cache keyed by __typename
    could never match the schema type)."""
    case = {s.label.lower(): s.label for s in NODE_SPECS}
    case.update({k.lower(): k for k in rels})
    return case

# --- document model ---------------------------------------------------------------


@dataclass
class Field:
    name: str
    args: dict = dc_field(default_factory=dict)
    selection: list["Field"] = dc_field(default_factory=list)
    # response key (spec (2.7): ``alias: field``) — None means the
    # field name itself
    alias: str | None = None

    @property
    def out(self) -> str:
        return self.alias or self.name


@dataclass(frozen=True)
class Rel:
    edge: str
    direction: str  # "out" | "in"
    target: str


def default_relationships() -> dict[str, dict[str, Rel]]:
    """Relationship fields derived from the workspace edge specs:
    `placed` on Customer walks PLACED out-edges to Order;
    `placed_rev` on Order walks them back."""
    rels: dict[str, dict[str, Rel]] = {}
    for spec in EDGE_SPECS:
        rels.setdefault(spec.src_label, {})[spec.label.lower()] = Rel(
            spec.label, "out", spec.dst_label
        )
        rels.setdefault(spec.dst_label, {})[spec.label.lower() + "_rev"] = Rel(
            spec.label, "in", spec.src_label
        )
    return rels


# --- lexer / parser ---------------------------------------------------------------

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<spread>\.\.\.)
      | (?P<punct>[{}():,\[\]!=@])
      | (?P<string>"(?:[^"\\]|\\.)*")
      | (?P<number>-?\d+(?:\.\d+)?)
      | (?P<variable>\$[_A-Za-z][_0-9A-Za-z]*)
      | (?P<name>[_A-Za-z][_0-9A-Za-z]*)
    )""",
    re.VERBOSE,
)


class GraphQLError(ValueError):
    pass


def _tokenize(doc: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(doc):
        m = _TOKEN.match(doc, pos)
        if m is None:
            rest = doc[pos:].strip()
            if not rest:
                break
            raise GraphQLError(f"unexpected character at: {rest[:20]!r}")
        pos = m.end()
        for kind in ("spread", "punct", "string", "number", "variable", "name"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], variables: dict | None = None):
        self.toks = tokens
        self.i = 0
        # caller-supplied variable values; declaration defaults are
        # merged UNDER these while parsing the operation definition
        self.variables = dict(variables or {})
        self.declared: set[str] = set()
        # fragment name -> (on_type, selection list); spreads resolve
        # after the whole document is parsed (fragments may be
        # declared after the operation that uses them)
        self.fragments: dict[str, tuple[str, list]] = {}
        self.operation = "query"  # or "mutation"

    def _peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> tuple[str, str]:
        t = self._peek()
        if t is None:
            raise GraphQLError("unexpected end of document")
        self.i += 1
        return t

    def _expect(self, value: str) -> None:
        kind, v = self._next()
        if v != value:
            raise GraphQLError(f"expected {value!r}, got {v!r}")

    def parse_document(self) -> Field:
        root: Field | None = None
        while self._peek() is not None:
            t = self._peek()
            if t[0] == "name" and t[1] == "fragment":
                self._parse_fragment_def()
                continue
            if root is not None:
                raise GraphQLError("one root field per document")
            # optional leading `query`/`mutation` / operation name /
            # variable defs
            if t[0] == "name" and t[1] in ("query", "mutation"):
                self.operation = t[1]
                self._next()
                t = self._peek()
                if t and t[0] == "name":
                    self._next()
                    t = self._peek()
                if t and t[1] == "(":
                    self._parse_variable_defs()
            self._expect("{")
            root = self._parse_field()
            self._expect("}")
        if root is None:
            raise GraphQLError("document has no operation")
        self._resolve_spreads(root, ())
        return root

    def _parse_fragment_def(self) -> None:
        """``fragment Name on Type { ... }`` — reusable selection
        sets, the standard client pattern for shared field lists."""
        self._next()  # 'fragment'
        kind, name = self._next()
        if kind != "name" or name == "on":
            raise GraphQLError(f"expected fragment name, got {name!r}")
        kind, on = self._next()
        if (kind, on) != ("name", "on"):
            raise GraphQLError(f"expected 'on', got {on!r}")
        kind, typ = self._next()
        if kind != "name":
            raise GraphQLError(f"expected a type condition, got {typ!r}")
        holder = Field(name)
        self._expect("{")
        self._parse_selection_items(holder)
        self.fragments[name] = (typ, holder.selection)

    def _parse_selection_items(self, f: "Field") -> None:
        """Shared selection-set body: fields and ...spreads, up to
        the closing brace."""
        while True:
            t = self._peek()
            if t is None:
                raise GraphQLError("unterminated selection set")
            if t[1] == "}":
                self._next()
                break
            if t[0] == "spread":
                self._next()
                kind, fname = self._next()
                if kind != "name":
                    raise GraphQLError(
                        f"expected fragment name after '...', got {fname!r}"
                    )
                if fname == "on":
                    # inline fragment: ``... on Type { … }`` — kept as
                    # a marker node; _build applies it only when the
                    # type condition matches the enclosing label
                    # (spec §5.5.2 semantics on a concrete-type-only
                    # schema)
                    kind, typ = self._next()
                    if kind != "name":
                        raise GraphQLError(
                            f"expected a type condition, got {typ!r}"
                        )
                    keep = self._parse_directives()
                    holder = Field("__inline__", args={"on": typ})
                    self._expect("{")
                    self._parse_selection_items(holder)
                    if keep:
                        f.selection.append(holder)
                    continue
                if self._parse_directives():
                    f.selection.append(Field("..." + fname))
                continue
            sub = self._parse_field()
            if sub is not None:
                f.selection.append(sub)

    def _resolve_spreads(self, fld: Field, seen: tuple) -> None:
        """Inline ``...Name`` spreads (post-parse, so declaration
        order doesn't matter); cycles are a clear error."""
        out: list[Field] = []
        for sub in fld.selection:
            if sub.name.startswith("..."):
                fname = sub.name[3:]
                if fname in seen:
                    raise GraphQLError(f"fragment cycle through {fname!r}")
                if fname not in self.fragments:
                    raise GraphQLError(f"unknown fragment {fname!r}")
                _, sel = self.fragments[fname]
                holder = Field(fname, selection=list(sel))
                self._resolve_spreads(holder, seen + (fname,))
                out.extend(holder.selection)
            else:
                self._resolve_spreads(sub, seen)
                out.append(sub)
        fld.selection = out

    def _parse_variable_defs(self) -> None:
        """``($seg: String!, $lim: Int = 5)`` — declarations with
        optional defaults. Types are validated structurally (name with
        optional ``!`` / list wrappers) but not enforced against a
        schema — the compiled filter casts at the Spark level, the
        same place literal arguments are coerced."""
        self._expect("(")
        while True:
            kind, v = self._next()
            if kind != "variable":
                raise GraphQLError(f"expected $variable, got {v!r}")
            name = v[1:]
            self.declared.add(name)
            self._expect(":")
            self._parse_type()
            t = self._peek()
            if t and t[1] == "=":
                self._next()
                default = self._parse_value()
                if name not in self.variables:
                    self.variables[name] = default
            kind, v = self._next()
            if v == ")":
                break
            if v != ",":
                raise GraphQLError(f"expected ',' or ')', got {v!r}")

    def _parse_type(self) -> None:
        kind, v = self._next()
        if v == "[":
            self._parse_type()
            self._expect("]")
        elif kind != "name":
            raise GraphQLError(f"expected a type name, got {v!r}")
        t = self._peek()
        if t and t[1] == "!":
            self._next()

    def _parse_directives(self) -> bool:
        """``@skip(if: <bool>)`` / ``@include(if: <bool>)`` (spec
        §5.5) — returns True when the annotated selection should be
        KEPT. Conditions are boolean literals or variables; variables
        substitute at parse time, so directives evaluate right here —
        the compiled plan never carries a skipped field."""
        keep = True
        while (t := self._peek()) is not None and t[1] == "@":
            self._next()
            kind, name = self._next()
            if kind != "name" or name not in ("skip", "include"):
                raise GraphQLError(
                    f"unsupported directive @{name} (only @skip/@include)"
                )
            self._expect("(")
            kind, arg = self._next()
            if (kind, arg) != ("name", "if"):
                raise GraphQLError(f"@{name} requires an if: argument")
            self._expect(":")
            cond = self._parse_value()
            self._expect(")")
            if not isinstance(cond, bool):
                raise GraphQLError(
                    f"@{name}(if:) must be a Boolean, got {cond!r}"
                )
            if name == "skip" and cond:
                keep = False
            if name == "include" and not cond:
                keep = False
        return keep

    def _parse_field(self) -> Field | None:
        """One field in a selection set. Returns None when a @skip/
        @include directive drops it. ``alias: field`` (spec §2.7)
        sets the response key."""
        kind, name = self._next()
        if kind != "name":
            raise GraphQLError(f"expected field name, got {name!r}")
        f = Field(name)
        t = self._peek()
        if t and t[1] == ":":
            # alias — the parsed name was the response key
            self._next()
            kind, real = self._next()
            if kind != "name":
                raise GraphQLError(f"expected field name after alias, got {real!r}")
            f.alias, f.name = name, real
            t = self._peek()
        if t and t[1] == "(":
            self._next()
            while True:
                kind, k = self._next()
                if kind != "name":
                    raise GraphQLError(f"expected argument name, got {k!r}")
                self._expect(":")
                f.args[k] = self._parse_value()
                kind, v = self._next()
                if v == ")":
                    break
                if v != ",":
                    raise GraphQLError(f"expected ',' or ')', got {v!r}")
            t = self._peek()
        keep = self._parse_directives()
        t = self._peek()
        if t and t[1] == "{":
            self._next()
            self._parse_selection_items(f)
        return f if keep else None

    def _parse_value(self):
        kind, v = self._next()
        if v == "{":
            # GraphQL input object literal — the update mutation's
            # ``_set: {col: value, …}`` argument
            obj: dict = {}
            while True:
                kind, k = self._next()
                if k == "}":
                    break
                if kind != "name":
                    raise GraphQLError(f"expected object field name, got {k!r}")
                self._expect(":")
                obj[k] = self._parse_value()
                t = self._peek()
                if t and t[1] == ",":
                    self._next()
            return obj
        if v == "[":
            items: list = []
            while True:
                t = self._peek()
                if t and t[1] == "]":
                    self._next()
                    break
                items.append(self._parse_value())
                t = self._peek()
                if t and t[1] == ",":
                    self._next()
            return items
        if kind == "variable":
            name = v[1:]
            if self.declared and name not in self.declared:
                raise GraphQLError(f"variable ${name} is not declared")
            if name not in self.variables:
                raise GraphQLError(
                    f"variable ${name} has no value (pass it in the "
                    "`variables` dict or declare a default)"
                )
            return self.variables[name]
        if kind == "string":
            return v[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        if kind == "number":
            return float(v) if "." in v else int(v)
        if kind == "name":
            if v == "true":
                return True
            if v == "false":
                return False
            if v == "null":
                return None
            raise GraphQLError(f"unsupported enum value: {v!r}")
        raise GraphQLError(f"expected a value, got {v!r}")


def parse(doc: str, variables: dict | None = None) -> Field:
    return _Parser(_tokenize(doc), variables).parse_document()


def parse_operation(
    doc: str, variables: dict | None = None
) -> tuple[Field, str]:
    """Like :func:`parse` but also returns the operation kind
    (``"query"`` / ``"mutation"``)."""
    p = _Parser(_tokenize(doc), variables)
    root = p.parse_document()
    return root, p.operation


# --- execution --------------------------------------------------------------------


def _expand_inline(spark: SparkSession, selection: list[Field], label: str) -> list[Field]:
    """Apply inline fragments against the enclosing type: ``... on
    <label>`` splices its fields in, a fragment on a DIFFERENT known
    type contributes nothing (spec §5.5.2 — on a schema of concrete
    object types only, a non-matching condition can never apply), and
    an unknown type condition fails loud."""
    out: list[Field] = []
    for sub in selection:
        if sub.name != "__inline__":
            out.append(sub)
            continue
        cond = sub.args.get("on")
        if cond == label:
            out.extend(_expand_inline(spark, sub.selection, label))
        elif not spark.catalog.tableExists(f"n_{cond}"):
            raise GraphQLError(
                f"unknown type condition {cond!r} in inline fragment "
                f"(no n_{cond} view)"
            )
    return out


class _Statement:
    """One SQL statement under construction: its CTEs in dependency
    order and the values bound to its ``:aN`` parameter markers."""

    def __init__(self) -> None:
        self.ctes: list[str] = []
        self.args: dict = {}

    def bind(self, value) -> str:
        # spark.sql(args=) turns each value into the literal F.lit would
        # build (a float stays DOUBLE, a string never meets the parser)
        name = f"a{len(self.args)}"
        self.args[name] = value
        return f":{name}"

    def cte(self, body: str) -> str:
        name = f"__gql{len(self.ctes)}"
        self.ctes.append(f"{name} AS ({body})")
        return name


def _limit(fld: Field) -> int | None:
    """A field's ``limit`` argument: absent, or a non-negative Int."""
    v = fld.args.get("limit")
    if v is None or (type(v) is int and v >= 0):
        return v
    raise GraphQLError(
        f"limit on {fld.name!r} must be a non-negative Int, got {v!r}"
    )


def _level(
    spark: SparkSession,
    label: str,
    fld: Field,
    rels: dict[str, dict[str, Rel]],
    q: _Statement,
    kept: str | None = None,
) -> tuple[str, list[str]]:
    """Compile one selection level into a CTE holding one row per kept
    ``n_<label>`` node: its id (``__k``) plus the response keys, which
    are returned with the CTE's name. Rows are the label filtered by
    the equality arguments and, when ``kept`` is a query of ids, by
    membership in it. Each relationship field is one
    ``relations.gather`` over these rows, one aggregate per field:
    siblings never meet in one join, so they cannot multiply."""
    try:
        cols = set(spark.table(f"n_{label}").columns)
    except Exception as exc:
        raise GraphQLError(f"unknown type {label!r} (no n_{label} view)") from exc
    preds = []
    for k, v in fld.args.items():
        # `limit` is read, never popped: Field objects are shared across
        # fragment spreads, so the second spread of a fragment must still
        # see it. The root applies it to the answer, a nested field
        # slices each parent's array.
        if k == "limit":
            continue
        if k not in cols:
            raise GraphQLError(f"unknown argument {k!r} on type {label!r}")
        preds.append(f"`{k}` = {q.bind(v)}")
    if kept is not None:
        preds.append(f"node_id IN ({kept})")

    selection = _expand_inline(spark, fld.selection, label)
    scalars: dict[str, str] = {}  # response key -> source column
    nested: dict[str, Field] = {}
    # response key -> ("scalar"|"nested", source field) across BOTH
    # kinds: an aliased scalar and a nested relationship sharing one
    # response key is just as unmergeable as scalar-vs-scalar (spec
    # §5.3.2)
    key_kinds: dict[str, tuple[str, str]] = {}
    for sub in selection:
        kind = "nested" if sub.selection else "scalar"
        prev_kind = key_kinds.setdefault(sub.out, (kind, sub.name))
        if prev_kind != (kind, sub.name):
            raise GraphQLError(
                f"response key {sub.out!r} selects conflicting "
                f"fields {prev_kind[1]!r} and {sub.name!r} (spec "
                "§5.3.2 field merging)"
            )
        if sub.selection:
            nested.setdefault(sub.out, sub)
        elif sub.name == "__typename":
            # meta-field (spec §4.4): the enclosing type's name — every
            # real client (Apollo normalized caches, GraphiQL) sprinkles
            # this into selections
            scalars.setdefault(sub.out, "__typename")
        elif sub.name not in cols:
            raise GraphQLError(f"unknown field {sub.name!r} on type {label!r}")
        else:
            # identical keys over the same field merge (spec §5.3.2);
            # the same key over different fields was rejected above
            scalars.setdefault(sub.out, sub.name)
    if not selection:
        raise GraphQLError(f"selection set required on type {label!r}")

    # only requested fields travel
    rows = q.cte(
        "SELECT node_id AS __k"
        + "".join(
            f", {q.bind(label) if src == '__typename' else f'`{src}`'} AS `{out}`"
            for out, src in scalars.items()
        )
        + f" FROM n_{label}"
        + (f" WHERE {' AND '.join(preds)}" if preds else "")
    )
    keys = list(scalars)
    for out, nf in nested.items():
        rel = rels.get(label, {}).get(nf.name)
        if rel is None:
            known = sorted(rels.get(label, {}))
            raise GraphQLError(
                f"unknown relationship {nf.name!r} on type {label!r} (known: {known})"
            )
        # the typed edge view: no union of every edge dataset to prune
        # (~30 ms a one-key request at sf0.01)
        view = f"e_{rel.edge}"
        reached = None
        if any(sub.selection for sub in nf.selection):
            # the child has relationships of its own: compute them only
            # for the children these rows reach
            reached = reach(rel.direction, rel.edge, f"SELECT __k FROM {rows}", view)
        child, child_keys = _level(spark, rel.target, nf, rels, q, reached)
        item = "named_struct({})".format(
            ", ".join(f"'{k}', c.`{k}`" for k in child_keys)
        )
        rows = q.cte(gather(
            rows, rel.direction, rel.edge, item, child, tuple(keys), out, view
        ))
        limit = _limit(nf)
        if limit is not None:
            rows = q.cte(
                "SELECT __k, " + "".join(f"`{k}`, " for k in keys)
                + f"slice(`{out}`, 1, {limit}) AS `{out}` FROM {rows}"
            )
        keys.append(out)
    return rows, keys


def _compile(
    spark: SparkSession, fld: Field, rels: dict[str, dict[str, Rel]]
) -> tuple[str, dict]:
    """A read document → one Spark SQL statement and its bound values.
    Every relationship field is joined from the kept parent rows and
    grouped by the parent id, so a one-key request aggregates that
    key's edges only; a root ``limit`` applies to the answer."""
    q = _Statement()
    top, keys = _level(spark, fld.name, fld, rels, q)
    text = (
        "WITH " + ", ".join(q.ctes)
        + f" SELECT {', '.join(f'`{k}`' for k in keys)} FROM {top}"
    )
    limit = _limit(fld)
    if limit is not None:
        text += f" LIMIT {limit}"
    return text, q.args


def execute(
    spark: SparkSession,
    document: str,
    relationships: dict[str, dict[str, Rel]] | None = None,
    variables: dict | None = None,
    *,
    workspace_dir: str | None = None,
    allow_writes: bool = False,
) -> DataFrame:
    """Compile a GraphQL executable document into a DataFrame over the
    loaded workspace views. The root field name is the node label;
    returns one row per matched root entity with nested selections as
    sorted `array<struct>` columns. ``variables`` supplies values for
    ``query($x: …)`` declarations — the standard client pattern —
    substituted at parse time so the compiled plan pushes them down
    exactly like literal arguments."""
    root, op_kind = parse_operation(document, variables)
    rels = default_relationships() if relationships is None else relationships
    if op_kind == "mutation":
        return _execute_mutation(
            spark, root, workspace_dir=workspace_dir, allow_writes=allow_writes
        )
    if root.name == "__schema":
        # a bare `{ __schema { types } }` keeps the compact one-row-
        # per-type discovery shape; any nested selection (what a real
        # client document always carries) gets the spec-shaped answer
        if any(
            s.selection
            or s.name
            in (
                "queryType",
                "mutationType",
                "subscriptionType",
                "directives",
                "__typename",
            )
            for s in root.selection
        ):
            return _introspect_full(spark, rels, root)
        return _introspect(spark, rels)
    if root.name == "__type":
        return _introspect_type(spark, rels, root)
    text, args = _compile(spark, root, rels)
    return spark.sql(text, args=args or None)


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _execute_mutation(
    spark: SparkSession,
    root: Field,
    *,
    workspace_dir: str | None,
    allow_writes: bool,
) -> DataFrame:
    """Minimal mutation surface over the gated DML machinery:
    ``mutation { create<Label>(col: v, ...) }`` inserts one vertex
    (``natural_key`` required — ids derive from it) and
    ``mutation { delete<Label>(col: v, ...) }`` deletes the vertices
    matching the equality conjunction (cascading to edges, like the
    dialect's DELETE VERTEX). Richer updates go through the SQL
    dialect. Same opt-in as dialect DML: default OFF raises — the
    reference's endpoint is read-only."""
    import re as _re

    from biodwh2_arcadedb_server_spark import arcadesql

    m = _re.fullmatch(r"(create|delete|update)([A-Z]\w*)", root.name)
    if m is None:
        raise GraphQLError(
            f"unsupported mutation field {root.name!r} — expected "
            "create<Label>(...), update<Label>(..., _set: {...}) or "
            "delete<Label>(...)"
        )
    action, label = m.groups()
    if not root.args:
        raise GraphQLError(f"{root.name} requires arguments")
    if action == "create":
        stmt = arcadesql._DML(
            kind="insert", label=label,
            rows=[{k: _sql_literal(v) for k, v in root.args.items()}],
        )
    elif action == "update":
        sets = root.args.get("_set")
        if not isinstance(sets, dict) or not sets:
            raise GraphQLError(
                f"{root.name} requires a _set: {{col: value, ...}} argument"
            )
        filters = {k: v for k, v in root.args.items() if k != "_set"}
        if not filters:
            raise GraphQLError(
                f"{root.name} requires at least one filter argument "
                "beside _set (an unfiltered update must be explicit — "
                "use the SQL dialect)"
            )
        stmt = arcadesql._DML(
            kind="update", label=label,
            assignments=[(k, _sql_literal(v)) for k, v in sets.items()],
            where=" AND ".join(
                f"{k} = {_sql_literal(v)}" for k, v in filters.items()
            ),
        )
    else:
        stmt = arcadesql._DML(
            kind="delete", label=label,
            where=" AND ".join(
                f"{k} = {_sql_literal(v)}" for k, v in root.args.items()
            ),
        )
    try:
        return arcadesql._execute_dml(spark, stmt, workspace_dir, allow_writes)
    except arcadesql.ArcadeSQLError as exc:
        raise GraphQLError(str(exc)) from exc


def sdl(
    spark: SparkSession,
    relationships: dict[str, dict[str, Rel]] | None = None,
) -> str:
    """GraphQL SDL (Schema Definition Language) export of the active
    workspace schema — the printSchema-style text schema-first
    clients and codegen toolchains consume. Rendered from the SAME
    ``_schema_model`` the introspection answers, so the SDL and a
    ``getIntrospectionQuery()`` round-trip can never drift: one
    ``type`` block per OBJECT (wrapper chains as ``[T]``/``T!``),
    ``scalar`` declarations for the non-built-in scalars (Long, Date,
    DateTime, Base64 …), and the ``schema`` block naming the roots.
    The executable @skip/@include directives are spec built-ins and
    are omitted, as printSchema does. Catalog metadata only; no table
    scans."""
    rels = default_relationships() if relationships is None else relationships
    model = _schema_model(spark, rels)

    def ref(t: dict) -> str:
        if t["kind"] == "LIST":
            return f"[{ref(t['ofType'])}]"
        if t["kind"] == "NON_NULL":
            return f"{ref(t['ofType'])}!"
        return t["name"]

    builtin = {"String", "Boolean", "Int", "Float", "ID"}
    parts = []
    for t in model["types"]:
        if t["kind"] == "OBJECT":
            fields = "\n".join(
                f"  {f['name']}: {ref(f['type'])}" for f in t["fields"]
            )
            parts.append(f"type {t['name']} {{\n{fields}\n}}")
        elif t["kind"] == "SCALAR" and t["name"] not in builtin:
            parts.append(f"scalar {t['name']}")
    parts.append("schema {\n  query: Query\n  mutation: Mutation\n}")
    return "\n\n".join(parts) + "\n"


def _introspect_type(
    spark: SparkSession, rels: dict[str, dict[str, Rel]], root: Field
) -> DataFrame:
    """``{ __type(name: "T") { … } }`` — single-type introspection
    with per-field types, the level of detail ``__schema { types }``
    (names only) omits: one row carrying the scalar fields as
    ``array<struct<name, type>>`` (Spark SQL type strings stand in
    for GraphQL scalar names — the engine's actual types) and the
    relationship fields as ``array<struct<name, target, direction,
    edge>>``. Catalog metadata only; no table scans."""
    name = root.args.get("name")
    if not name:
        raise GraphQLError('__type requires a name: "<Label>" argument')
    if any(
        s.selection or s.name in ("kind", "__typename")
        for s in root.selection
    ):
        # spec-shaped single-type introspection (same dispatch rule
        # as __schema): any nested selection or kind request gets the
        # standard __Type answer — including the synthetic Query/
        # Mutation/MutationResult roots and scalar types, which a
        # real client resolves by name after reading __schema
        model = _schema_model(spark, rels)
        match = next(
            (
                t
                for t in model["types"]
                if t["name"].lower() == str(name).lower()
            ),
            None,
        )
        if match is None:
            known = sorted(t["name"] for t in model["types"])
            raise GraphQLError(f"unknown type {name!r} (known: {known})")
        ddl, row = _proj_type(root.selection, match)
        return local_df(spark, [(row,)], f"`t` {ddl}").select("t.*")
    case = _label_case_map(rels)
    label = case.get(str(name).lower(), str(name))
    try:
        schema = spark.table(f"n_{label}").schema
    except Exception as exc:
        raise GraphQLError(f"unknown type {name!r} (no n_{label} view)") from exc
    fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    rel_rows = [
        (rn, r.target, r.direction, r.edge)
        for rn, r in sorted(rels.get(label, {}).items())
    ]
    return local_df(
        spark,
        [(label, fields, rel_rows)],
        "name string, "
        "fields array<struct<name string, type string>>, "
        "relationships array<struct<name string, target string, "
        "direction string, edge string>>",
    )


_GQL_SCALAR = {
    "string": "String",
    "int": "Int",
    "bigint": "Long",
    "smallint": "Int",
    "tinyint": "Int",
    "double": "Float",
    "float": "Float",
    "boolean": "Boolean",
    "date": "Date",
    "timestamp": "DateTime",
    "timestamp_ntz": "DateTime",
    "binary": "Base64",
}


def _typeref(spark_type: str) -> dict:
    """Spark SQL type string → GraphQL __Type reference (kind, name,
    ofType). Arrays become LIST-of; everything else is a named SCALAR
    (String fallback, the typemap's own rule)."""
    if spark_type.startswith("array<") and spark_type.endswith(">"):
        return {
            "kind": "LIST",
            "name": None,
            "ofType": _typeref(spark_type[6:-1]),
        }
    return {
        "kind": "SCALAR",
        "name": _GQL_SCALAR.get(spark_type, "String"),
        "ofType": None,
    }


def _schema_model(
    spark: SparkSession, rels: dict[str, dict[str, Rel]]
) -> dict:
    """Full introspection value tree (catalog metadata only): OBJECT
    types from the ``n_<Label>`` views (scalar columns + relationship
    fields), the synthetic Query/Mutation roots (one query field per
    label; create/update/delete mutations returning MutationResult),
    and the referenced SCALAR types."""
    case = _label_case_map(rels)
    objects, scalars_used = [], set()
    for tbl in sorted(spark.catalog.listTables(), key=lambda t: t.name):
        if not tbl.name.startswith("n_"):
            continue
        label = case.get(tbl.name[2:], tbl.name[2:])
        flds = []
        for f in spark.table(tbl.name).schema.fields:
            tr = _typeref(f.dataType.simpleString())
            t = tr
            while t is not None:
                if t["kind"] == "SCALAR":
                    scalars_used.add(t["name"])
                t = t["ofType"]
            flds.append({"name": f.name, "type": tr})
        for rn, r in sorted(rels.get(label, {}).items()):
            flds.append(
                {
                    "name": rn,
                    "type": {
                        "kind": "LIST",
                        "name": None,
                        "ofType": {
                            "kind": "OBJECT",
                            "name": r.target,
                            "ofType": None,
                        },
                    },
                }
            )
        objects.append({"kind": "OBJECT", "name": label, "fields": flds})
    if not objects:
        raise GraphQLError("no workspace views registered (n_<Label>)")
    labels = [o["name"] for o in objects]
    list_of = lambda name: {  # noqa: E731
        "kind": "LIST",
        "name": None,
        "ofType": {"kind": "OBJECT", "name": name, "ofType": None},
    }
    query = {
        "kind": "OBJECT",
        "name": "Query",
        "fields": [{"name": lb, "type": list_of(lb)} for lb in labels],
    }
    mut_result = {
        "kind": "OBJECT",
        "name": "MutationResult",
        "fields": [
            {"name": "operation", "type": _typeref("string")},
            {"name": "label", "type": _typeref("string")},
            {"name": "count", "type": _typeref("bigint")},
        ],
    }
    mutation = {
        "kind": "OBJECT",
        "name": "Mutation",
        "fields": [
            {
                "name": f"{verb}{lb}",
                "type": {
                    "kind": "OBJECT",
                    "name": "MutationResult",
                    "ofType": None,
                },
            }
            for lb in labels
            for verb in ("create", "update", "delete")
        ],
    }
    # Boolean is always referenced (the @skip/@include `if:` argument)
    # even when no column is boolean — buildClientSchema resolves
    # directive arg types against this list by name
    scalars_used.update({"String", "Long", "Boolean"})
    types = sorted(
        objects + [query, mutation, mut_result],
        key=lambda t: t["name"],
    ) + [
        {"kind": "SCALAR", "name": s, "fields": None}
        for s in sorted(scalars_used)
    ]
    # the executable directives this engine actually implements
    # (parse-time @skip/@include, _parse_directives above) — listed
    # spec-shaped (name, locations, args with a NON_NULL Boolean
    # `if:`) so a stock getIntrospectionQuery() round-trips; nothing
    # else is advertised because nothing else executes
    _if_arg = {
        "name": "if",
        "type": {
            "kind": "NON_NULL",
            "name": None,
            "ofType": {"kind": "SCALAR", "name": "Boolean", "ofType": None},
        },
        "defaultValue": None,
    }
    exec_locs = ["FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"]
    directives = [
        {
            "name": "include",
            "description": (
                "Include this field/fragment only when `if` is true."
            ),
            "locations": exec_locs,
            "args": [_if_arg],
            "isRepeatable": False,
        },
        {
            "name": "skip",
            "description": (
                "Skip this field/fragment when `if` is true."
            ),
            "locations": exec_locs,
            "args": [_if_arg],
            "isRepeatable": False,
        },
    ]
    return {
        "queryType": {"kind": "OBJECT", "name": "Query", "ofType": None},
        "mutationType": {
            "kind": "OBJECT",
            "name": "Mutation",
            "ofType": None,
        },
        "subscriptionType": None,
        "types": types,
        "directives": directives,
    }


# introspection contexts: known sub-fields per level and how to render
# them; anything else projects as a typed NULL so a stock client
# document (GraphiQL sends description/args/interfaces/...) runs
# instead of erroring — null is the honest answer for metadata this
# engine does not model. The ofType recursion is bounded by the
# client document's own depth (GraphiQL's TypeRef fragment: 7).


def _proj_typeref(sel: list[Field], value: dict | None):
    ddl_parts, row = [], []
    for sub in sel:
        if sub.name == "kind":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None if value is None else value["kind"])
        elif sub.name == "name":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None if value is None else value["name"])
        elif sub.name == "ofType" and sub.selection:
            # a null reference is a SQL NULL STRUCT, never a struct of
            # nulls: clients terminate the TypeRef recursion on
            # `ofType == null`, and buildClientSchema treats ANY
            # truthy ofType as a wrapper to chase
            v2 = None if value is None else value["ofType"]
            d, r = _proj_typeref(sub.selection, v2)
            ddl_parts.append(f"`{sub.out}`: {d}")
            row.append(None if v2 is None else r)
        elif sub.name == "__typename":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append("__Type")
        else:
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None)
    return "struct<" + ", ".join(ddl_parts) + ">", tuple(row)


def _proj_inputvalue(sel: list[Field], value: dict | None):
    """__InputValue (spec §4.5.5): name / description / type /
    defaultValue — the element shape of directive and field ``args``
    and of ``inputFields``."""
    ddl_parts, row = [], []
    for sub in sel:
        if sub.name == "name":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None if value is None else value["name"])
        elif sub.name == "type" and sub.selection:
            d, r = _proj_typeref(
                sub.selection, None if value is None else value["type"]
            )
            ddl_parts.append(f"`{sub.out}`: {d}")
            row.append(r)
        elif sub.name == "__typename":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append("__InputValue")
        else:
            # description / defaultValue / isDeprecated-era extras:
            # defaultValue is spec'd as a String (GraphQL-literal
            # rendering), so the string NULL is the typed answer
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(
                None if value is None else value.get(sub.name)
            )
    return "struct<" + ", ".join(ddl_parts) + ">", tuple(row)


def _proj_enumvalue(sel: list[Field], value: dict | None):
    """__EnumValue: name / description / isDeprecated /
    deprecationReason. No enum types exist in the model today; this
    types the ``enumValues`` NULL so a FullType fragment compiles."""
    ddl_parts, row = [], []
    for sub in sel:
        if sub.name == "name":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None if value is None else value["name"])
        elif sub.name == "isDeprecated":
            ddl_parts.append(f"`{sub.out}`: boolean")
            row.append(False)
        elif sub.name == "__typename":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append("__EnumValue")
        else:
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None)
    return "struct<" + ", ".join(ddl_parts) + ">", tuple(row)


def _proj_directive(sel: list[Field], value: dict | None):
    """__Directive: name / description / locations / args /
    isRepeatable (spec §4.5.7)."""
    ddl_parts, row = [], []
    for sub in sel:
        if sub.name in ("name", "description"):
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None if value is None else value[sub.name])
        elif sub.name == "locations":
            ddl_parts.append(f"`{sub.out}`: array<string>")
            row.append(None if value is None else value["locations"])
        elif sub.name == "args":
            if not sub.selection:
                raise GraphQLError(
                    "__Directive.args requires a selection set"
                )
            d, _ = _proj_inputvalue(sub.selection, None)
            ddl_parts.append(f"`{sub.out}`: array<{d}>")
            row.append(
                None
                if value is None
                else [
                    _proj_inputvalue(sub.selection, a)[1]
                    for a in value["args"]
                ]
            )
        elif sub.name == "isRepeatable":
            ddl_parts.append(f"`{sub.out}`: boolean")
            row.append(None if value is None else value["isRepeatable"])
        elif sub.name == "__typename":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append("__Directive")
        else:
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None)
    return "struct<" + ", ".join(ddl_parts) + ">", tuple(row)


def _proj_field(sel: list[Field], value: dict | None):
    ddl_parts, row = [], []
    for sub in sel:
        if sub.name == "name":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None if value is None else value["name"])
        elif sub.name == "type" and sub.selection:
            d, r = _proj_typeref(
                sub.selection, None if value is None else value["type"]
            )
            ddl_parts.append(f"`{sub.out}`: {d}")
            row.append(r)
        elif sub.name == "isDeprecated":
            ddl_parts.append(f"`{sub.out}`: boolean")
            row.append(False)
        elif sub.name == "args" and sub.selection:
            # fields declare no formal arguments (filters are ad-hoc
            # equality args) — an EMPTY list, element-typed as
            # __InputValue per the client's InputValue fragment
            d, _ = _proj_inputvalue(sub.selection, None)
            ddl_parts.append(f"`{sub.out}`: array<{d}>")
            row.append([])
        elif sub.name == "__typename":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append("__Field")
        else:
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None)
    return "struct<" + ", ".join(ddl_parts) + ">", tuple(row)


def _proj_type(sel: list[Field], value: dict | None):
    ddl_parts, row = [], []
    for sub in sel:
        if sub.name in ("kind", "name"):
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None if value is None else value[sub.name])
        elif sub.name == "fields":
            if not sub.selection:
                raise GraphQLError(
                    "__Type.fields requires a selection set"
                )
            d, _ = _proj_field(sub.selection, None)
            ddl_parts.append(f"`{sub.out}`: array<{d}>")
            flds = None if value is None else value.get("fields")
            row.append(
                None
                if flds is None
                else [_proj_field(sub.selection, f)[1] for f in flds]
            )
        elif sub.name in ("interfaces", "possibleTypes"):
            if not sub.selection:
                raise GraphQLError(
                    f"__Type.{sub.name} requires a selection set"
                )
            d, _ = _proj_typeref(sub.selection, None)
            ddl_parts.append(f"`{sub.out}`: array<{d}>")
            # spec + buildClientSchema contract: OBJECT types carry
            # an interfaces LIST (empty here — no interface types are
            # modeled), non-composite kinds carry NULL; possibleTypes
            # is non-null only for INTERFACE/UNION, neither of which
            # this model produces
            is_obj = value is not None and value.get("kind") == "OBJECT"
            row.append([] if sub.name == "interfaces" and is_obj else None)
        elif sub.name == "inputFields":
            if not sub.selection:
                raise GraphQLError(
                    "__Type.inputFields requires a selection set"
                )
            d, _ = _proj_inputvalue(sub.selection, None)
            ddl_parts.append(f"`{sub.out}`: array<{d}>")
            row.append(None)  # no INPUT_OBJECT types in the model
        elif sub.name == "enumValues":
            if not sub.selection:
                raise GraphQLError(
                    "__Type.enumValues requires a selection set"
                )
            d, _ = _proj_enumvalue(sub.selection, None)
            ddl_parts.append(f"`{sub.out}`: array<{d}>")
            row.append(None)  # no ENUM types in the model
        elif sub.name == "ofType" and sub.selection:
            # a FullType fragment may spread TypeRef at the top
            # level; top-level types are named (never wrappers), so
            # ofType is a NULL struct
            d, _ = _proj_typeref(sub.selection, None)
            ddl_parts.append(f"`{sub.out}`: {d}")
            row.append(None)
        elif sub.name == "__typename":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append("__Type")
        else:
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None)
    return "struct<" + ", ".join(ddl_parts) + ">", tuple(row)


def _introspect_full(
    spark: SparkSession, rels: dict[str, dict[str, Rel]], root: Field
) -> DataFrame:
    """Spec-shaped ``__schema`` introspection (spec §4.5): ONE row
    whose columns mirror the client's selection — ``queryType`` /
    ``mutationType`` as type-ref structs, ``types`` as an
    array<struct> of every OBJECT/SCALAR type with per-field type
    references (LIST/SCALAR/OBJECT with ``ofType`` chains),
    ``directives`` as the executable @skip/@include pair with their
    NON_NULL-Boolean ``if:`` args, and the buildClientSchema shape
    contract honored (OBJECT types carry ``interfaces: []``, not
    null; ``subscriptionType`` is null) — so a stock
    ``getIntrospectionQuery()`` document round-trips, not just the
    GraphiQL opening document. Metadata the model genuinely lacks
    (descriptions, enum/input/interface kinds) projects as typed
    NULLs. Catalog metadata only; no table scans."""
    model = _schema_model(spark, rels)
    ddl_parts, row = [], []
    for sub in root.selection:
        # spec §5.3.3: a field whose type is an object MUST carry a
        # selection set — a bare leaf selection is an error, the same
        # one _proj_type raises for a bare `fields` (ADVICE r12:
        # previously `types` silently projected a typed NULL)
        if (
            sub.name
            in (
                "queryType",
                "mutationType",
                "subscriptionType",
                "types",
                "directives",
            )
            and not sub.selection
        ):
            raise GraphQLError(
                f"__Schema.{sub.name} requires a selection set"
            )
        if (
            sub.name in ("queryType", "mutationType", "subscriptionType")
            and sub.selection
        ):
            v = model[sub.name]
            d, r = _proj_typeref(sub.selection, v)
            ddl_parts.append(f"`{sub.out}`: {d}")
            # subscriptionType: NULL struct, not {name: null} — a
            # client would otherwise look up a type named null
            row.append(None if v is None else r)
        elif sub.name == "directives" and sub.selection:
            d, _ = _proj_directive(sub.selection, None)
            ddl_parts.append(f"`{sub.out}`: array<{d}>")
            row.append(
                [
                    _proj_directive(sub.selection, dv)[1]
                    for dv in model["directives"]
                ]
            )
        elif sub.name == "types" and sub.selection:
            d, _ = _proj_type(sub.selection, None)
            ddl_parts.append(f"`{sub.out}`: array<{d}>")
            row.append(
                [_proj_type(sub.selection, t)[1] for t in model["types"]]
            )
        elif sub.name == "__typename":
            ddl_parts.append(f"`{sub.out}`: string")
            row.append("__Schema")
        else:
            ddl_parts.append(f"`{sub.out}`: string")
            row.append(None)
    return local_df(spark, [tuple(row)], ", ".join(ddl_parts))


def _introspect(spark: SparkSession, rels: dict[str, dict[str, Rel]]) -> DataFrame:
    """Minimal ``{ __schema { types } }``: one row per registered
    node type (the ``n_<Label>`` temp views) with its scalar fields
    and relationship fields — enough for a client to discover the
    queryable surface. Catalog metadata only; no table scans."""
    # catalog stores temp-view names lowercased; restore the label's
    # declared casing from the relationship map (falling back to the
    # raw name for relationship-less types)
    case = _label_case_map(rels)
    rows = []
    for tbl in spark.catalog.listTables():
        if not tbl.name.startswith("n_"):
            continue
        label = case.get(tbl.name[2:], tbl.name[2:])
        fields = [f.name for f in spark.table(tbl.name).schema.fields]
        rel_fields = sorted(rels.get(label, {}))
        rows.append((label, fields, rel_fields))
    if not rows:
        raise GraphQLError("no workspace views registered (n_<Label>)")
    return local_df(
        spark,
        sorted(rows),
        "name string, fields array<string>, relationships array<string>",
    )
