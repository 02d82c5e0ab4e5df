"""Relationships: the one place a graph step becomes Spark SQL text,
for both the ArcadeDB SQL dialect (arcadesql.py) and GraphQL
(graphql.py). See SCALE.md "Relationships"."""

from __future__ import annotations


def sql_str(val: str) -> str:
    """Re-escape a user-supplied string (e.g. an edge label) for safe
    interpolation as a Spark SQL single-quoted literal."""
    return val.replace("\\", "\\\\").replace("'", "\\'")


def edge_view(label: str | None) -> str:
    """The view a step over ``label`` reads: the typed ``e_<label>``
    when the loaded workspace declares that edge type (one dataset, no
    union of every edge dataset to prune), else the unified ``edges``."""
    from biodwh2_arcadedb_server_spark import workspace

    return f"e_{label}" if label in workspace.EDGE_LABELS else "edges"


def edge_leg(d: str, label: str | None, view: str | None = None) -> str:
    """The one oriented-edge relation every graph step walks: the rows
    of ``view`` (default ``edge_view(label)``, filtered to ``label``)
    plus ``__s``, the end the step leaves from, and ``__t``, the end
    it reaches. ``out`` orients
    (src, dst), ``in`` (dst, src), and ``both`` is the UNION ALL of
    the two, so a self-loop appears once per orientation. A step
    joins on ``__s = <anchor>.node_id`` and binds its target on
    ``node_id = __t``: an equi-join in every direction."""
    view = view or edge_view(label)
    where = f" WHERE label = '{sql_str(label)}'" if label else ""
    ends = {"out": [("src", "dst")], "in": [("dst", "src")]}
    ends["both"] = ends["out"] + ends["in"]
    return "(" + " UNION ALL ".join(
        f"SELECT *, {s} AS __s, {t} AS __t FROM {view}{where}"
        for s, t in ends[d]
    ) + ")"


def reach(d: str, label: str | None, kept_ids: str, view: str | None = None) -> str:
    """A query of the ids (``__k``) that the ids of the query
    ``kept_ids`` reach in one step, for use as ``IN (…)``: each reached
    id counts once, however many edges lead to it. ``expand(out/in/
    both())`` keeps this set semantics on purpose, while projections
    and ``expand(outE())`` keep one entry per edge: ArcadeDB's own
    multiplicity there is unverified, and per-edge rows would change
    the q140 probe (``test_both_multiplicity_battery`` pins both)."""
    leg = edge_leg(d, label, view)
    return f"SELECT e.__t AS __k FROM {leg} e WHERE e.__s IN ({kept_ids})"


def gather(
    kept: str | None, d: str, label: str | None, item: str,
    target: str | None = None, carry: tuple = (), name: str = "__g",
    view: str | None = None,
) -> str:
    """One row per id ``__k`` of the relation ``kept`` (each id once)
    with ``name`` = ``sort_array(collect_list(item))`` over its ``d``
    edges ``e`` (read from ``view``, as in ``edge_leg``) and the kept
    columns ``carry``. Edges whose end is not
    in ``target`` (id ``__k``, read as ``c``) add nothing. ``kept``
    None groups the whole leg by ``e.__s``; its caller reads a missing
    row as no edges."""
    rows, key = f"{edge_leg(d, label, view)} e", "e.__s"
    if kept is not None:
        rows, key = f"{kept} k LEFT JOIN {rows} ON e.__s = k.__k", "k.__k"
    if target is not None:
        rows += f" LEFT JOIN {target} c ON c.__k = e.__t"
        item = f"CASE WHEN c.__k IS NOT NULL THEN {item} END"
    return (
        f"SELECT {key} AS __k, "
        + "".join(f"any_value(k.`{c}`) AS `{c}`, " for c in carry)
        + f"sort_array(collect_list({item})) AS `{name}` FROM {rows} GROUP BY {key}"
    )
