"""Clause model + pure expression builders for conditional MERGE.

Delta Lake's ``MergeBuilder`` surface (whenMatchedUpdate/-Delete,
whenNotMatchedInsert, whenNotMatchedBySourceUpdate/-Delete, each with an
optional condition, evaluated in declaration order, first hit wins)
re-expressed as data + pure functions over Spark ``Column`` expressions.
``TxLogTable.merge`` (sinks/txlog.py) owns file pruning, staging and the
atomic commit; everything row-level — which clause fires for a row, what
each output column evaluates to per clause, which rows survive — is built
here so it can be unit-tested without a table on disk.

Reference semantics: the public Delta MERGE contract (first matching
clause per row category; unmatched rows carry; a source row matching no
insert clause is ignored; NULL conditions do not fire a clause). The
reference repo reaches the same shapes through Spark-SQL ``MERGE INTO``
on its state tables (ING:366-415); this generalizes the two fixed merge
shapes of ``TxLogTable.merge_upsert`` (source-wins, latest-wins) to
arbitrary clause lists. ``TxLogTable.delete_matching`` is the list
``[when_matched_delete()]`` over the source's distinct keys, as Delta
runs a key delete.

Expression scoping rules (documented on ``TxLogTable.merge``):

- ``matched`` clause conditions and ALL assignment/values expressions are
  evaluated over the joined frame and use ``t.<col>`` / ``s.<col>``
  qualified references.
- ``not_matched`` (insert) conditions see only the source row and use
  BARE source column names — they are evaluated source-side, before the
  join.
- ``by_source`` conditions see only the target row and use BARE target
  column names — they are evaluated target-side, which is also what lets
  the file-finding pass hand the very same predicate string to the
  data-skipping consult (``sinks.skipping.candidate_files``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "MergeClause",
    "MergeClauseError",
    "MergePlan",
    "when_matched_update",
    "when_matched_delete",
    "when_not_matched_insert",
    "when_not_matched_by_source_update",
    "when_not_matched_by_source_delete",
]


class MergeClauseError(ValueError):
    """A clause list that can never execute correctly (bad action, an
    unreachable clause, an assignment to a derived column, a condition
    referencing a side the clause cannot see)."""


class MergeCardinalityError(RuntimeError):
    """A target row matched more than one source row while matched
    clauses exist — the update/delete outcome would depend on join
    order (Delta's ambiguous-merge error)."""


@dataclass(frozen=True)
class MergeClause:
    category: str  # 'matched' | 'not_matched' | 'by_source'
    action: str  # 'update' | 'delete' | 'insert'
    condition: str | None = None
    # update: {target_col: sql_expr}; None = UPDATE SET * (every source
    # column). insert: {target_col: sql_expr}; None = INSERT * (source
    # columns by name, absent ones NULL).
    assignments: dict[str, str] | None = None


def when_matched_update(
    set: dict[str, str] | None = None, condition: str | None = None
) -> MergeClause:
    """UPDATE matched target rows. ``set=None`` is Delta's
    ``updateAll()``: every column the source carries is set to its
    source value."""
    return MergeClause("matched", "update", condition, set)


def when_matched_delete(condition: str | None = None) -> MergeClause:
    return MergeClause("matched", "delete", condition, None)


def when_not_matched_insert(
    values: dict[str, str] | None = None, condition: str | None = None
) -> MergeClause:
    """INSERT source rows whose key has no target match. ``values=None``
    is Delta's ``insertAll()``."""
    return MergeClause("not_matched", "insert", condition, values)


def when_not_matched_by_source_update(
    set: dict[str, str], condition: str | None = None
) -> MergeClause:
    """UPDATE target rows whose key the source does NOT carry (Delta's
    WHEN NOT MATCHED BY SOURCE — the 'expire what the feed stopped
    mentioning' clause)."""
    return MergeClause("by_source", "update", condition, set)


def when_not_matched_by_source_delete(
    condition: str | None = None,
) -> MergeClause:
    return MergeClause("by_source", "delete", condition, None)


_VALID = {
    "matched": {"update", "delete"},
    "not_matched": {"insert"},
    "by_source": {"update", "delete"},
}

# action-code prefixes; a code is e.g. 'm0' (first matched clause),
# 'i1' (second insert clause), plus the two synthetic outcomes
CARRY = "carry"  # row present in a rewritten file, logically untouched
SKIP = "skip"  # source row no insert clause accepted


@dataclass
class MergePlan:
    """Validated clause list bound to a concrete (target schema, source
    columns) pair. All ``Column`` builders are pure — they reference the
    joined frame's ``t``/``s`` aliases and the pre-computed condition
    marker columns, never a SparkSession."""

    clauses: list[MergeClause]
    schema: StructType  # post-evolution table schema (output contract)
    target_cols: list[str]  # columns present in the CURRENT target files
    source_cols: list[str]
    generated: dict[str, str]  # lower-name -> expression
    # GENERATED AS IDENTITY columns: lower-name -> always flag. ALWAYS
    # columns are never assignable and never mapped from the source by
    # SET * / INSERT * (inserts leave NULL for the table to allocate,
    # updates carry the target value). BY DEFAULT columns behave like
    # normal columns here — supplied source values pass through, the
    # table allocates only into NULL slots afterward (the same contract
    # append honors).
    identity: dict = field(default_factory=dict)
    t_mark: str = "_t_present"
    s_mark: str = "_s_present"
    marker_prefix: str = "_q"
    matched: list[tuple[str, MergeClause]] = field(init=False)
    inserts: list[tuple[str, MergeClause]] = field(init=False)
    by_source: list[tuple[str, MergeClause]] = field(init=False)

    def __post_init__(self):
        if not self.clauses:
            raise MergeClauseError("MERGE requires at least one clause")
        self.matched, self.inserts, self.by_source = [], [], []
        buckets = {
            "matched": self.matched,
            "not_matched": self.inserts,
            "by_source": self.by_source,
        }
        prefix = {"matched": "m", "not_matched": "i", "by_source": "b"}
        for cl in self.clauses:
            if cl.category not in _VALID:
                raise MergeClauseError(f"unknown clause category {cl.category!r}")
            if cl.action not in _VALID[cl.category]:
                raise MergeClauseError(
                    f"{cl.category} clause cannot {cl.action!r}"
                )
            bucket = buckets[cl.category]
            bucket.append((f"{prefix[cl.category]}{len(bucket)}", cl))
        self._check_reachable()
        self._check_scoping()
        self._check_assignments()

    # ------------------------------------------------------ validation --
    def _check_reachable(self) -> None:
        # Delta's rule: within a category only the LAST clause may omit
        # its condition — an earlier unconditional clause makes every
        # later one dead code, which is a bug in the caller, not a
        # preference.
        for name, bucket in (
            ("matched", self.matched),
            ("not_matched", self.inserts),
            ("by_source", self.by_source),
        ):
            for code, cl in bucket[:-1]:
                if cl.condition is None:
                    raise MergeClauseError(
                        f"unconditional {name} clause ({code}) precedes "
                        "another; only the last clause in a category may "
                        "omit its condition"
                    )

    def _check_scoping(self) -> None:
        import re

        def bare(cond: str) -> str:
            # the alias check must not fire on 't.'/'s.' INSIDE string
            # literals ("url != 'http://t.co'"); blank them first
            return re.sub(r"'[^']*'", "''", cond)

        # a frame that genuinely HAS a column named 't'/'s' (a struct,
        # say) makes 't.flag' a legitimate bare reference on that side —
        # the guard must stand down rather than refuse valid conditions
        src_has_t = "t" in {c.lower() for c in self.source_cols}
        tgt_has_s = "s" in {c.lower() for c in self.target_cols}
        for code, cl in self.inserts:
            if (
                cl.condition
                and not src_has_t
                and re.search(r"\bt\s*\.", bare(cl.condition), re.IGNORECASE)
            ):
                raise MergeClauseError(
                    f"not_matched condition ({cl.condition!r}) references "
                    "t.<col>: insert conditions see only the source row "
                    "and use bare source column names"
                )
        for code, cl in self.by_source:
            if (
                cl.condition
                and not tgt_has_s
                and re.search(r"\bs\s*\.", bare(cl.condition), re.IGNORECASE)
            ):
                raise MergeClauseError(
                    f"by_source condition ({cl.condition!r}) references "
                    "s.<col>: by-source clauses see only the target row "
                    "and use bare target column names"
                )

    def _check_assignments(self) -> None:
        known = {f.name.lower() for f in self.schema.fields}
        src = {c.lower() for c in self.source_cols}
        for code, cl in [*self.matched, *self.inserts, *self.by_source]:
            if cl.assignments is None:
                continue
            for c in cl.assignments:
                if c.lower() not in known:
                    raise MergeClauseError(
                        f"clause {code} assigns unknown column {c!r}"
                    )
                if c.lower() in self.generated:
                    raise MergeClauseError(
                        f"clause {code} assigns generated column {c!r} "
                        f"(= {self.generated[c.lower()]}); its value is "
                        "derived and recomputed automatically"
                    )
                if self.identity.get(c.lower()):  # ALWAYS only
                    raise MergeClauseError(
                        f"clause {code} assigns GENERATED ALWAYS identity "
                        f"column {c!r}; its values are table-allocated "
                        "(inserted rows get fresh values automatically)"
                    )
        # UPDATE SET * / INSERT * need the source to actually carry
        # something; a fully-disjoint source makes them a silent no-op
        # masquerading as an update — refuse early. (Delete clauses also
        # carry assignments=None but never map columns — exempt.)
        if not src & {f.name.lower() for f in self.schema.fields}:
            for code, cl in [*self.matched, *self.inserts]:
                if cl.assignments is None and cl.action in (
                    "update",
                    "insert",
                ):
                    raise MergeClauseError(
                        f"clause {code} uses SET */INSERT * but no source "
                        "column matches a table column"
                    )

    # ------------------------------------------------- marker columns --
    def source_markers(self) -> list[tuple[str, Column]]:
        """(name, expr) pairs evaluated on the SOURCE frame before the
        join: presence mark + one boolean per insert condition (bare
        source column scope)."""
        out = [(self.s_mark, F.lit(True))]
        for code, cl in self.inserts:
            if cl.condition is not None:
                out.append(
                    (
                        f"{self.marker_prefix}_{code}",
                        F.coalesce(F.expr(cl.condition), F.lit(False)),
                    )
                )
        return out

    def target_markers(self) -> list[tuple[str, Column]]:
        """(name, expr) pairs evaluated on the TARGET frame before the
        join: presence mark + one boolean per by-source condition (bare
        target column scope — the same predicate string the file-finding
        pass gives the skipping consult)."""
        out = [(self.t_mark, F.lit(True))]
        for code, cl in self.by_source:
            if cl.condition is not None:
                out.append(
                    (
                        f"{self.marker_prefix}_{code}",
                        F.coalesce(F.expr(cl.condition), F.lit(False)),
                    )
                )
        return out

    def by_source_predicates(self) -> list[str | None]:
        """The raw by-source condition strings (None = unconditional) —
        the file-pruning consult's input."""
        return [cl.condition for _, cl in self.by_source]

    # --------------------------------------------------- action column --
    def _clause_fire(self, code: str, cl: MergeClause) -> Column:
        if cl.category == "matched":
            if cl.condition is None:
                return F.lit(True)
            return F.coalesce(F.expr(cl.condition), F.lit(False))
        # pre-evaluated marker (absent-side rows hold NULL -> false)
        if cl.condition is None:
            return F.lit(True)
        return F.coalesce(
            F.col(f"{self.marker_prefix}_{code}"), F.lit(False)
        )

    def action_col(self) -> Column:
        """One string column resolving every joined row to the clause
        that fires for it ('m0', 'i1', 'b0', ...) or CARRY/SKIP. Clause
        order within a category is declaration order; categories are
        mutually exclusive by the presence marks."""
        t = F.col(self.t_mark).isNotNull()
        s = F.col(self.s_mark).isNotNull()
        expr: Column | None = None

        def add(cond: Column, val: str) -> None:
            nonlocal expr
            expr = (
                F.when(cond, F.lit(val))
                if expr is None
                else expr.when(cond, F.lit(val))
            )

        for code, cl in self.matched:
            add(t & s & self._clause_fire(code, cl), code)
        add(t & s, CARRY)
        for code, cl in self.inserts:
            add(s & ~t & self._clause_fire(code, cl), code)
        add(s & ~t, SKIP)
        for code, cl in self.by_source:
            add(t & ~s & self._clause_fire(code, cl), code)
        return expr.otherwise(F.lit(CARRY))

    # ------------------------------------------------- output columns --
    def delete_codes(self) -> set[str]:
        return {
            code
            for code, cl in [*self.matched, *self.by_source]
            if cl.action == "delete"
        }

    def update_codes(self) -> set[str]:
        return {
            code
            for code, cl in [*self.matched, *self.by_source]
            if cl.action == "update"
        }

    def insert_codes(self) -> set[str]:
        return {code for code, _ in self.inserts}

    def keep_filter(self, action: Column) -> Column:
        dropped = sorted(self.delete_codes() | {SKIP})
        return ~action.isin(dropped)

    def _t_ref(self, name: str, dtype) -> Column:
        """t.<col>, or a typed NULL when evolution added the column (the
        current files don't carry it, so the carried value IS null)."""
        if name.lower() in {c.lower() for c in self.target_cols}:
            return F.col(f"t.{name}")
        return F.lit(None).cast(dtype)

    def post_image_cols(self, action: Column, keys: list[str]) -> list[Column]:
        """The post-image of every kept row, one expression per schema
        column (generated columns are overlaid afterwards by
        ``TxLogTable.merge`` — here they evaluate to their carry value).
        Key columns default to coalesce(t, s): identical on matched rows,
        the only present side elsewhere."""
        src_lower = {c.lower(): c for c in self.source_cols}
        key_lower = {k.lower() for k in keys}
        out = []
        for f_ in self.schema.fields:
            name, dt = f_.name, f_.dataType
            if self.identity.get(name.lower()):
                # ALWAYS identity is never source-mapped: updates/carries
                # keep the target's value, inserts leave NULL to allocate
                src_val = F.lit(None).cast(dt)
                carry = self._t_ref(name, dt)
                col = None
                for code, _cl in self.inserts:
                    col = (
                        F.when(action == code, src_val)
                        if col is None
                        else col.when(action == code, src_val)
                    )
                final = carry if col is None else col.otherwise(carry)
                out.append(final.cast(dt).alias(name))
                continue
            carry = self._t_ref(name, dt)
            if name.lower() in key_lower and name.lower() in src_lower:
                carry = F.coalesce(carry, F.col(f"s.{src_lower[name.lower()]}"))
            col: Column | None = None

            def add(code: str, val: Column) -> None:
                nonlocal col
                col = (
                    F.when(action == code, val)
                    if col is None
                    else col.when(action == code, val)
                )

            for code, cl in self.matched:
                if cl.action != "update":
                    continue
                if cl.assignments is None:  # UPDATE SET *
                    if name.lower() in src_lower:
                        add(code, F.col(f"s.{src_lower[name.lower()]}"))
                elif name in cl.assignments or name.lower() in {
                    a.lower() for a in cl.assignments
                }:
                    expr = next(
                        v
                        for a, v in cl.assignments.items()
                        if a.lower() == name.lower()
                    )
                    add(code, F.expr(expr))
            for code, cl in self.inserts:
                if cl.assignments is None:  # INSERT *
                    if name.lower() in src_lower:
                        add(code, F.col(f"s.{src_lower[name.lower()]}"))
                    else:
                        add(code, F.lit(None).cast(dt))
                else:
                    lowered = {a.lower(): v for a, v in cl.assignments.items()}
                    add(
                        code,
                        F.expr(lowered[name.lower()])
                        if name.lower() in lowered
                        else F.lit(None).cast(dt),
                    )
            for code, cl in self.by_source:
                if cl.action != "update":
                    continue
                lowered = {a.lower(): v for a, v in cl.assignments.items()}
                if name.lower() in lowered:
                    add(code, F.expr(lowered[name.lower()]))
            final = carry if col is None else col.otherwise(carry)
            out.append(final.cast(dt).alias(name))
        return out

    def pre_image_cols(self) -> list[Column]:
        """The target-side image under the (post-evolution) schema —
        evolution-added columns are NULL, exactly what the old row
        held."""
        return [
            self._t_ref(f.name, f.dataType).cast(f.dataType).alias(f.name)
            for f in self.schema.fields
        ]
