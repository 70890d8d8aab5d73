"""Human-readable run report — the stdout sink (S8,
reference src/output.rs:35-195) transposed to the engine.

The report renders from a COLLECTED summary row + (optionally) the
non-valid verdicts, so nothing here touches executors: the heavy outputs
(violations, metrics) go to parquet sinks; this is the operator-console
view. Verbosity levels mirror the reference: 0 summary only, 1 + failures
per row (src/output.rs:51-57 prints only non-valid), 2 + performance."""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ANSI codes matching the reference exactly (src/output.rs:35-67 /
# format_file_result): valid green, invalid red, error yellow, skipped cyan
_STATUS_COLOR = {"valid": "32", "invalid": "31", "error": "33", "skipped": "36"}
_STATUS_MARK = {"valid": "✓", "invalid": "✗", "error": "⚠", "skipped": "-"}


def _resolve_color(color: bool | None) -> bool:
    """None → auto-detect: color iff stdout is a TTY (the reference's
    ``atty::is(Stream::Stdout)``, src/output.rs:23)."""
    if color is not None:
        return color
    return bool(getattr(sys.stdout, "isatty", lambda: False)())


def colorize(text: str, code: str, enabled: bool) -> str:
    return f"\x1b[{code}m{text}\x1b[0m" if enabled else text


def format_duration_ms(ms: float) -> str:
    """Duration buckets exactly like src/output.rs:198-209 (ms / s / m)."""
    if ms < 1000:
        return f"{ms:.0f}ms"
    if ms < 60_000:
        return f"{ms / 1000:.2f}s"
    return f"{ms / 60_000:.1f}m"


def format_summary(
    summary: dict, wall_ms: float | None = None, color: bool | None = None
) -> str:
    c = _resolve_color(color)
    lines = [
        "Validation Results",
        "==================",
        f"Total:   {summary['total']}",
        f"{colorize('Valid:', '32', c)}   {summary['valid']}",
        f"{colorize('Invalid:', '31', c)} {summary['invalid']}",
        f"{colorize('Errors:', '33', c)}  {summary['error']}",
        f"{colorize('Skipped:', '36', c)} {summary['skipped']}",
        # present when the registry declares a table-scope constraint
        *(
            [f"Table violations: {summary['table_violations']}"]
            if "table_violations" in summary else []
        ),
        f"Success rate: {summary['success_rate']:.1f}%",
        f"Specs used: {', '.join(summary.get('schemas_used') or []) or '(none)'}",
    ]
    if wall_ms is not None:
        thr = summary["total"] / (wall_ms / 1000) if wall_ms > 0 else 0.0
        lines.append(f"Duration: {format_duration_ms(wall_ms)}")
        lines.append(f"Throughput: {thr:,.0f} docs/sec")
    return "\n".join(lines)


def format_failures(
    verdicts: DataFrame, limit: int = 50, color: bool | None = None
) -> str:
    """Verbose view: only non-valid rows (P7), status-colored markers like
    the reference's format_file_result (✗ red, ⚠ yellow, - cyan)."""
    c = _resolve_color(color)
    rows = (
        verdicts.filter(F.col("status") != "valid")
        .select("url", "status", "error_details")
        .limit(limit)
        .collect()
    )
    out = []
    for r in rows:
        details = "; ".join(r["error_details"] or [])
        status = r["status"]
        mark = colorize(
            f"{_STATUS_MARK.get(status, '?')} {status.upper()}",
            _STATUS_COLOR.get(status, "0"), c,
        )
        out.append(f"{mark}  {r['url'] or '<null>'}: {details}")
    return "\n".join(out)


def report(
    verdicts: DataFrame,
    verbosity: int = 0,
    wall_ms: float | None = None,
    perf: dict | None = None,
    color: bool | None = None,
    summary: dict | None = None,
) -> str:
    """``summary``: a precomputed ``summarize()`` row (dict) — callers
    that already aggregated (the CLI collects counts for the exit code)
    pass it to avoid re-running the aggregation job over ``verdicts``."""
    if summary is None:
        from validate_xml_rust_spark.operators.summary import summarize

        summary = summarize(verdicts).collect()[0].asDict()
    srow = summary
    parts = [format_summary(srow, wall_ms, color=color)]
    if verbosity >= 1:
        failures = format_failures(verdicts, color=color)
        if failures:
            parts.append("\nFailures\n--------\n" + failures)
    if verbosity >= 2 and perf:
        parts.append(
            "\nPerformance\n-----------\n"
            + "\n".join(f"{k}: {v}" for k, v in sorted(perf.items()))
        )
    return "\n".join(parts)
