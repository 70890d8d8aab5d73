"""Declarative constraint specs + rule compiler.

The reference treats an XSD as an opaque compiled artifact: ``parse_xsd``
once per distinct schema URL (single-flight, reference src/cache.rs:33-66),
then ``validate_xsd`` per file returning ``{is_valid, errors[{line, column,
message}]}`` (reference src/validator.rs:664, 686-694). This module is the
engine's analog: a *spec* is a declarative list of constraints; ``compile_spec``
is the "parse once" step producing vectorized Column-expression checks that
are then applied to every row of a DataFrame ("validate many").

Compilation happens once per distinct spec per SparkContext, on the
driver: ``SpecRegistry.compiled()`` memoizes ``compile_spec`` through
``colcache.per_context``, keyed on the spec's content (its id and each
constraint's ``to_json()``), the analog of the reference's ``CachedSchema``
(src/cache.rs:124-136). A changed spec is a new key; an unchanged one
returns the Column objects built before, so a warm run rebuilds no rule
expression. The moka ``try_get_with`` single-flight of src/cache.rs:51-66
is unnecessary in Spark: the compiled form is a plan fragment, shipped to
executors inside the serialized plan / broadcast — X2 in SURVEY.md §4.

Row-scope constraint kinds (compiled to pure Column expressions — JVM-side,
whole-stage-codegen'd, no Python in the hot path):

- ``not_null``       — column must be non-null
- ``regex``          — string matches pattern (params: ``pattern``)
- ``range``          — lo <= col <= hi (params: ``lo``, ``hi``; either optional)
- ``isin``           — col ∈ allowed set (params: ``values``)
- ``length``         — lo <= length(col) <= hi (params: ``lo``, ``hi``)
- ``utf8``           — binary column decodes as strict UTF-8 (roundtrip check;
                       mirrors the reference's UTF-8 read error at
                       src/validator.rs:659-663 — severity ``error``)
- ``expr``           — arbitrary boolean SQL expression must hold
                       (params: ``predicate``; cross-column checks)

Table-scope kinds (``unique``, ``referential``, ``drift`` [chi2|ks|psi],
``contamination``, ``near_dup``, ``fd``) need a shuffle or a join; they are
handled by dedicated operators (operators/uniqueness.py, referential.py,
drift.py, curation.py, dedup.py, profile.py) dispatched from
operators/orchestrate.py, and declared here only so a spec can carry them
end-to-end.

Severity: ``invalid`` (counted into ``Invalid{error_count}``) or ``error``
(the row is *unreadable* — maps to the reference's ``Error{message}`` state,
e.g. a non-UTF-8 document fails parse before validation,
src/validator.rs:679-698). Precedence is applied in operators/validate.py.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from validate_xml_rust_spark import colcache

ROW_KINDS = frozenset(
    {"not_null", "regex", "range", "isin", "length", "utf8", "expr",
     "pandas_check", "repetition", "gopher", "c4"}
)
TABLE_KINDS = frozenset(
    {"unique", "referential", "drift", "contamination", "near_dup", "fd",
     "host_quality", "shared_passage", "lm_quality"}
)


@dataclass(frozen=True)
class Constraint:
    """One declarative constraint within a spec."""

    constraint_id: str
    column: str
    kind: str
    params: dict[str, Any] = field(default_factory=dict)
    severity: str = "invalid"  # "invalid" | "error"

    def __post_init__(self) -> None:
        if self.kind not in ROW_KINDS | TABLE_KINDS:
            raise ValueError(f"unknown constraint kind: {self.kind!r}")
        if self.severity not in ("invalid", "error"):
            raise ValueError(f"unknown severity: {self.severity!r}")

    def to_json(self) -> str:
        return json.dumps(
            {
                "constraint_id": self.constraint_id,
                "column": self.column,
                "kind": self.kind,
                "params": self.params,
                "severity": self.severity,
            },
            sort_keys=True,
        )


@dataclass(frozen=True)
class Spec:
    """A named set of constraints — the engine's "schema" (XSD analog)."""

    spec_id: str
    constraints: tuple[Constraint, ...]

    def row_constraints(self) -> tuple[Constraint, ...]:
        return tuple(c for c in self.constraints if c.kind in ROW_KINDS)

    def table_constraints(self) -> tuple[Constraint, ...]:
        return tuple(c for c in self.constraints if c.kind in TABLE_KINDS)


def spec_from_dict(d: dict[str, Any]) -> Spec:
    """Parse the JSON/dict form of a spec (the on-disk registry format)."""
    cons = tuple(
        Constraint(
            constraint_id=c["constraint_id"],
            column=c["column"],
            kind=c["kind"],
            params=c.get("params", {}),
            severity=c.get("severity", "invalid"),
        )
        for c in d["constraints"]
    )
    return Spec(spec_id=d["spec_id"], constraints=cons)


@dataclass(frozen=True)
class CompiledCheck:
    """One compiled row-scope check: vectorized fail predicate + observables."""

    constraint_id: str
    column: str
    severity: str
    fail: Column  # boolean, never null (null input handled per-kind)
    observed: Column  # string repr of the offending value
    message: str  # static human message template


def _obs(col: Column) -> Column:
    return F.coalesce(col.cast("string"), F.lit("<null>"))


def compile_constraint(c: Constraint) -> CompiledCheck:
    """Compile one row-scope constraint into Column expressions.

    Every predicate is null-guarded so a null input can never poison the
    boolean (error containment X9 of SURVEY.md §4 — a bad value must yield a
    verdict, never a task failure)."""
    col = F.col(c.column)
    p = c.params
    if c.kind == "not_null":
        fail = col.isNull()
        msg = f"{c.column} must not be null"
    elif c.kind == "regex":
        fail = col.isNotNull() & ~col.rlike(p["pattern"])
        msg = f"{c.column} does not match {p['pattern']!r}"
    elif c.kind == "range":
        conds = []
        if "lo" in p:
            conds.append(col < F.lit(p["lo"]))
        if "hi" in p:
            conds.append(col > F.lit(p["hi"]))
        if not conds:
            raise ValueError(f"range constraint {c.constraint_id} needs lo and/or hi")
        bad = conds[0]
        for extra in conds[1:]:
            bad = bad | extra
        fail = col.isNotNull() & bad
        msg = f"{c.column} outside [{p.get('lo', '-inf')}, {p.get('hi', '+inf')}]"
    elif c.kind == "isin":
        fail = col.isNotNull() & ~col.isin(list(p["values"]))
        msg = f"{c.column} not in allowed set"
    elif c.kind == "length":
        ln = F.length(col)
        conds = []
        if "lo" in p:
            conds.append(ln < F.lit(int(p["lo"])))
        if "hi" in p:
            conds.append(ln > F.lit(int(p["hi"])))
        if not conds:
            raise ValueError(f"length constraint {c.constraint_id} needs lo and/or hi")
        bad = conds[0]
        for extra in conds[1:]:
            bad = bad | extra
        fail = col.isNotNull() & bad
        msg = f"length({c.column}) outside [{p.get('lo', 0)}, {p.get('hi', 'inf')}]"
        return CompiledCheck(c.constraint_id, c.column, c.severity, fail, _obs(ln), msg)
    elif c.kind == "utf8":
        # Strict UTF-8 validity, JVM-side (Spark 4 is_valid_utf8 — no UDF,
        # no exception; Spark 4's plain decode() throws on malformed bytes).
        fail = col.isNotNull() & ~F.is_valid_utf8(col)
        obs = F.concat(F.lit("0x"), F.hex(F.substring(col, 1, 8)))
        msg = f"{c.column} is not valid UTF-8"
        return CompiledCheck(c.constraint_id, c.column, c.severity, fail, obs, msg)
    elif c.kind == "expr":
        pred = F.expr(p["predicate"])
        fail = ~F.coalesce(pred, F.lit(False))
        msg = f"predicate failed: {p['predicate']}"
    elif c.kind == "repetition":
        # Gopher-style intra-doc repetition bound: fraction of duplicated
        # k-grams must stay ≤ max_ratio (Arrow numpy — spam/boilerplate
        # drop signal as a declarative row constraint)
        from validate_xml_rust_spark.functions.texthash import gram_repetition_udf

        ratio = gram_repetition_udf(col, int(p.get("k", 2)))
        fail = col.isNotNull() & (ratio > float(p["max_ratio"]))
        msg = (
            f"{c.column} duplicated {p.get('k', 2)}-gram ratio exceeds "
            f"{p['max_ratio']}"
        )
        return CompiledCheck(
            c.constraint_id, c.column, c.severity, fail,
            ratio.cast("string"), msg,
        )
    elif c.kind == "gopher":
        # Gopher quality rule pack (Rae et al. 2021 A1.1) as ONE
        # declarative row constraint: seven codegen'd regexp signals,
        # fail when the composite doesn't pass. Observed value names the
        # failing rules so the violation row is actionable. NULL text
        # passes (not_null owns null-ness).
        from validate_xml_rust_spark.operators.textstats import gopher_signals

        sig = gopher_signals(
            col,
            int(p.get("min_words", 50)),
            int(p.get("max_words", 100_000)),
        )
        fail = col.isNotNull() & ~sig["gopher_pass"]
        failed_rules = F.array(
            F.when(
                ~sig["g_n_words"].between(
                    int(p.get("min_words", 50)), int(p.get("max_words", 100_000))
                ),
                F.lit("word_count"),
            ),
            F.when(~sig["g_mean_wl"].between(3.0, 10.0), F.lit("mean_word_len")),
            F.when(sig["g_symbol_ratio"] > 0.1, F.lit("symbol_ratio")),
            F.when(sig["g_bullet_frac"] > 0.9, F.lit("bullet_lines")),
            F.when(sig["g_ellipsis_frac"] > 0.3, F.lit("ellipsis_lines")),
            F.when(sig["g_alpha_frac"] < 0.8, F.lit("alpha_words")),
            F.when(sig["g_stop_hits"] < 2, F.lit("stop_words")),
        )
        obs = F.concat_ws(",", failed_rules)
        msg = f"{c.column} fails the Gopher quality rule pack"
        return CompiledCheck(c.constraint_id, c.column, c.severity, fail, obs, msg)
    elif c.kind == "c4":
        # C4 page gate (Raffel et al. 2020 §2.2) as a declarative row
        # constraint: fail pages containing "lorem ipsum" / "{" or with
        # fewer than min_lines lines surviving the C4 line filter.
        # Observed value names the failing rules. NULL text passes
        # (not_null owns null-ness). Cost note: kept_n is an interpreted
        # line-filter HOF referenced by BOTH the predicate and the
        # observed_value array — the second evaluation happens only on
        # FAILING rows (obs is conditional), the same cost shape as the
        # gopher kind's signal re-references; a constraint row cannot
        # materialize intermediates, so this is the floor.
        from validate_xml_rust_spark.operators.textstats import c4_kept_lines

        t = F.coalesce(col, F.lit(""))
        min_wpl = int(p.get("min_words_per_line", 5))
        min_lines = int(p.get("min_lines", 3))
        kept_n = F.size(
            c4_kept_lines(F.array_remove(F.split(t, "\n"), ""), min_wpl)
        )
        has_lorem = F.lower(t).contains("lorem ipsum")
        has_brace = t.contains("{")
        fail = col.isNotNull() & (
            has_lorem | has_brace | (kept_n < min_lines)
        )
        failed_rules = F.array(
            F.when(has_lorem, F.lit("lorem_ipsum")),
            F.when(has_brace, F.lit("curly_brace")),
            F.when(kept_n < min_lines, F.lit("too_few_kept_lines")),
        )
        obs = F.concat_ws(",", failed_rules)
        msg = f"{c.column} fails the C4 page gate"
        return CompiledCheck(c.constraint_id, c.column, c.severity, fail, obs, msg)
    elif c.kind == "pandas_check":
        # Arrow-batched named validator (functions/pandas_checks.py) — the
        # "pandas/Arrow UDF batch validator" slot of the north star. Null
        # passes (not_null owns null-ness); checker errors are contained
        # as FAIL inside the UDF (X9). With ``timeout_ms`` the checker may
        # also return NULL for not-evaluated values (budget exhausted, X7);
        # a strict ``ok == False`` keeps those out of the FAIL bucket —
        # the timeout companion check (see ``expand_constraint``) turns
        # them into error-severity violations instead.
        from validate_xml_rust_spark.functions.pandas_checks import (
            pandas_check_column,
        )

        ok = pandas_check_column(p["checker"], col, p.get("timeout_ms"))
        fail = col.isNotNull() & (ok == F.lit(False))
        msg = f"{c.column} failed pandas check {p['checker']!r}"
    else:
        raise ValueError(f"{c.kind!r} is table-scope; compile via its operator")
    return CompiledCheck(c.constraint_id, c.column, c.severity, fail, _obs(col), msg)


@dataclass(frozen=True)
class CompiledSpec:
    spec_id: str
    checks: tuple[CompiledCheck, ...]
    table_constraints: tuple[Constraint, ...]

    def violations_array(self) -> Column:
        """Array<struct<constraint_id,observed_value,message,severity>> of
        failed checks for one row — the engine's analog of the reference's
        per-file ``errors[{line, column, message}]`` list
        (src/validator.rs:686-694, formatted at 704-712)."""
        entries = [
            F.when(
                ch.fail,
                F.struct(
                    F.lit(ch.constraint_id).alias("constraint_id"),
                    ch.observed.alias("observed_value"),
                    F.lit(ch.message).alias("message"),
                    F.lit(ch.severity).alias("severity"),
                ),
            )
            for ch in self.checks
        ]
        if not entries:
            return F.expr(
                "array()"
            ).cast(
                "array<struct<constraint_id:string,observed_value:string,"
                "message:string,severity:string>>"
            )
        arr = F.array(*entries)
        return F.filter(arr, lambda x: x.isNotNull())


def expand_constraint(c: Constraint) -> list[CompiledCheck]:
    """Compile one constraint to its CompiledChecks. A ``pandas_check``
    with ``timeout_ms`` expands into TWO checks sharing one UDF column
    (Catalyst dedupes identical Python UDF expressions into a single
    ArrowEvalPython pass):

    - the check itself (constraint severity, fires on ``ok == False``),
    - ``<id>_timeout`` (severity ``error``, fires on NULL = not evaluated
      within the batch budget) — the reference's timeout→Error verdict
      (src/validator.rs:549-569) as far as Spark's execution model allows."""
    if c.kind != "pandas_check" or c.params.get("timeout_ms") is None:
        return [compile_constraint(c)]
    from validate_xml_rust_spark.functions.pandas_checks import pandas_check_column

    col = F.col(c.column)
    # ONE shared Column: both checks reference the same PythonUDF
    # expression instance, so Catalyst evaluates the checker once per row
    # and the fail/timeout verdicts can never disagree about which values
    # were evaluated.
    ok = pandas_check_column(c.params["checker"], col, c.params["timeout_ms"])
    main = CompiledCheck(
        c.constraint_id,
        c.column,
        c.severity,
        col.isNotNull() & (ok == F.lit(False)),
        _obs(col),
        f"{c.column} failed pandas check {c.params['checker']!r}",
    )
    timeout = CompiledCheck(
        f"{c.constraint_id}_timeout",
        c.column,
        "error",
        col.isNotNull() & ok.isNull(),
        _obs(col),
        f"{c.column} pandas check {c.params['checker']!r} timed out "
        f"(batch budget {c.params['timeout_ms']}ms)",
    )
    return [main, timeout]


def compile_spec(spec: Spec) -> CompiledSpec:
    """"Parse once": compile a spec's row constraints to Column expressions."""
    return CompiledSpec(
        spec_id=spec.spec_id,
        checks=tuple(
            ch for c in spec.row_constraints() for ch in expand_constraint(c)
        ),
        table_constraints=spec.table_constraints(),
    )


@dataclass
class SpecRegistry:
    """The spec store + routing table — the analog of the reference's schema
    cache keyed by URL (src/cache.rs:139-316) plus the per-file schema
    reference extraction (src/schema_loader.rs:63-102).

    ``routes`` maps a routing-key value (e.g. the ``lang`` column — the
    engine's ``xsi:schemaLocation``) to a spec_id. A route may name a spec_id
    missing from ``specs`` — rows routed there get an ``error`` verdict,
    mirroring a referenced-but-unloadable schema (src/validator.rs:1084-1099).
    Routing is realized as a broadcast join (SURVEY.md §2.3 J1)."""

    specs: dict[str, Spec] = field(default_factory=dict)
    routes: dict[str, str] = field(default_factory=dict)

    def add(self, spec: Spec, route_keys: list[str] | None = None) -> "SpecRegistry":
        self.specs[spec.spec_id] = spec
        for k in route_keys or []:
            self.routes[k] = spec.spec_id
        return self

    def add_route(self, key: str, spec_id: str) -> "SpecRegistry":
        """Route a key to a spec_id (which may intentionally not exist)."""
        self.routes[key] = spec_id
        return self

    def content_key(self) -> tuple:
        """The specs' content as a hashable key: ``(spec_id, (constraint
        JSON, ...))`` per spec, in spec_id order. Routes are not part of
        it: they pick a spec per row, they do not change its Columns."""
        return tuple(
            (sid, tuple(c.to_json() for c in self.specs[sid].constraints))
            for sid in sorted(self.specs)
        )

    def compiled(self) -> dict[str, CompiledSpec]:
        """Each spec compiled once per SparkContext (see the module
        docstring): a warm call returns the Columns built before."""
        return {sid: compiled_spec(sid, cons) for sid, cons in self.content_key()}


@colcache.per_context
def compiled_spec(spec_id: str, constraints: tuple[str, ...]) -> CompiledSpec:
    """``compile_spec`` of the spec whose content is ``constraints``
    (``Constraint.to_json()`` strings): the result depends on the
    content alone, so a registry mutated in place never reuses a stale
    compile. A ``pandas_check`` names its checker, so a checker
    registered again under the same name takes effect after
    ``colcache.clear()``."""
    return compile_spec(spec_from_dict(
        {"spec_id": spec_id, "constraints": [json.loads(c) for c in constraints]}
    ))
