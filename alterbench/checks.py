"""Output checks against computations made apart from the program.

- :func:`report_failure` compares a ``run_alterator`` report, reduced to
  list membership, reason, old and new format, and added and deleted
  column names, with the corpus generator's expectation.
- :func:`apply_failure` also checks the catalog after an apply.
- :func:`pandas_canon` and :func:`oracle_rows` give a query result and
  its DuckDB oracle the canonical form of the repository's oracle gate
  (``tests/util.py``), fetched the same way.
"""

from __future__ import annotations

import json

from corpus import LISTS, Corpus


def _names(cols) -> list[str]:
    return [c["Name"] for c in cols or []]


def _entry(e) -> dict:
    if not isinstance(e, dict):
        return {"table_name": e}
    out = {"table_name": e["table_name"]}
    for k in ("reason", "old_format", "new_format"):
        if k in e:
            out[k] = e[k]
    if "details" in e:
        out["add"] = _names(e["details"].get("add"))
        out["delete"] = _names(e["details"].get("delete"))
    return out


def report_failure(report: dict, corpus: Corpus, phase: str) -> str | None:
    """None when the report equals the expectation for ``phase``."""
    got = {
        k: sorted((_entry(e) for e in report.get(k, [])), key=lambda e: json.dumps(e, sort_keys=True))
        for k in LISTS
    }
    got["stats"] = report["ResponseMetadata"]["stats"]
    want = corpus.expected(phase)
    for k in want:
        if got[k] != want[k]:
            return f"{phase} report, {k}: got {json.dumps(got[k])[:300]} want {json.dumps(want[k])[:300]}"
    return None


def apply_failure(spark, report: dict, corpus: Corpus) -> str | None:
    """After an apply: the report is as expected, no ``apply_errors``,
    every altered table's ``listColumns`` equals its DDL column list in
    order, and its catalog version moved."""
    why = report_failure(report, corpus, "apply")
    if why:
        return why
    if report.get("apply_errors"):
        return f"apply_errors: {report['apply_errors']}"
    versions = {e["table_name"]: e for e in report["success_tables"]}
    for t in corpus.tables:
        if t.applied_columns is None:
            continue
        got = [c.name for c in spark.catalog.listColumns(t.name)]
        if got != t.applied_columns:
            return f"{t.name}: catalog columns {got} != DDL {t.applied_columns}"
        e = versions[t.name]
        if not e["previous_version"] or e["previous_version"] == e["current_version"]:
            return f"{t.name}: catalog version did not move ({e['previous_version']})"
    return None


def pandas_canon(pdf):
    """Column-sorted, canonical, row-sorted form of a pandas result."""
    from tests.util import canon_rows

    cols = [str(c) for c in pdf.columns]
    return sorted(cols), canon_rows(cols, list(pdf.itertuples(index=False, name=None)))


def oracle_rows(con, sql: str):
    return pandas_canon(con.execute(sql).df())
