"""Seeded DDL corpus generator for the schema-diff workload.

``make_corpus`` plants Hive tables of the report categories and
returns a :class:`Corpus` holding the catalog DDL that creates the live
tables and the reports the program should produce in two phases:

- ``apply``: the report of ``run_alterator(validate=False)`` on the
  freshly created catalog;
- ``fixpoint``: the report of a validate run right after that apply,
  in which every altered table reads identical.

:meth:`Corpus.stage` writes the DDL files into a directory of its own,
so that no operation reads the paths of an earlier one.

The expectations are derived from what the generator planted, never by
calling the program.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

# DDL types; listColumns reports each under the same lowercase name
HIVE_TYPES = ("string", "int", "bigint", "double", "date")

LISTS = (
    "success_tables",
    "skipped_tables",
    "new_tables",
    "identical_tables",
    "errored_tables",
    "non_parquet_tables",
    "iceberg_tables",
    "format_changed_tables",
)


@dataclass
class Table:
    """One planted table: its DDL file, the catalog DDL (None when the
    table is absent from the catalog), the expected report entry per
    phase, and for altered tables the catalog columns after apply."""

    name: str
    ddl: str
    catalog_sql: str | None
    expect: dict[str, dict]
    applied_columns: list[str] | None = None


@dataclass
class Corpus:
    tables: list[Table]

    def stage(self, dest: str) -> str:
        """Write the DDL files into the new directory ``dest`` and
        return it."""
        os.makedirs(dest)
        for t in self.tables:
            with open(os.path.join(dest, f"{t.name.split('.', 1)[1]}.hql"), "w") as f:
                f.write(t.ddl)
        return dest

    def expected(self, phase: str) -> dict:
        """Per report list, the sorted expected entries, plus ``stats``."""
        out: dict = {k: [] for k in LISTS}
        for t in self.tables:
            e = t.expect[phase]
            out[e["list"]].append({k: v for k, v in e.items() if k != "list"})
        for k in LISTS:
            out[k].sort(key=lambda e: json.dumps(e, sort_keys=True))
        n = {k: len(out[k]) for k in LISTS}
        out["stats"] = {
            "num_tables_analyzed": sum(n.values()),
            "num_updates": n["success_tables"],
            "num_skipped": n["skipped_tables"],
            "num_new": n["new_tables"],
            "num_errored": n["errored_tables"],
            "num_identical": n["identical_tables"],
            "num_non_parquet_tables": n["non_parquet_tables"],
            "num_iceberg_tables": n["iceberg_tables"],
            "num_format_changed_tables": n["format_changed_tables"],
        }
        return out


def _hive_ddl(fq: str, cols: list[tuple[str, str]], stored: str = "PARQUET") -> str:
    body = ",\n".join(f"    `{n}` {t}" for n, t in cols)
    return (
        f"CREATE EXTERNAL TABLE `{fq}`(\n{body}\n)\nSTORED AS {stored}\n"
        f"LOCATION 's3://bucket-{{aws_account_id}}/{fq.replace('.', '/')}/';\n"
    )


def _catalog_sql(fq: str, cols: list[tuple[str, str]], using: str = "parquet") -> str:
    body = ", ".join(f"`{n}` {t.upper()}" for n, t in cols)
    return f"CREATE TABLE {fq} ({body}) USING {using}"


def make_corpus(seed: int, db: str, counts: dict[str, int]) -> Corpus:
    """Plant ``counts[kind]`` tables of each kind and return them with
    their expectations. Kinds: ``add`` (needs a pure ``ADD COLUMNS``),
    ``identical``, ``new`` (absent from the catalog), ``non_create`` (a
    ``DROP`` statement), ``non_parquet`` (TEXTFILE on both sides) and
    ``format_changed`` (parquet DDL over a CSV catalog table)."""
    rng = random.Random(seed)
    used: set[str] = set()

    def name(prefix: str) -> str:
        while True:
            n = f"{prefix}_{rng.randrange(16**5):05x}"
            if n not in used:
                used.add(n)
                return n

    def cols(k: int) -> list[tuple[str, str]]:
        return [(name("c"), rng.choice(HIVE_TYPES)) for _ in range(k)]

    def both(entry: dict) -> dict[str, dict]:
        return {"apply": entry, "fixpoint": entry}

    def add(t):
        base, added = cols(rng.randint(3, 6)), cols(rng.randint(1, 3))
        return Table(
            t,
            _hive_ddl(t, base + added),
            _catalog_sql(t, base),
            {
                "apply": {
                    "list": "success_tables",
                    "table_name": t,
                    "add": [n for n, _ in added],
                    "delete": [],
                },
                "fixpoint": {"list": "identical_tables", "table_name": t},
            },
            applied_columns=[n for n, _ in base + added],
        )

    def identical(t):
        base = cols(rng.randint(3, 6))
        return Table(
            t,
            _hive_ddl(t, base),
            _catalog_sql(t, base),
            both({"list": "identical_tables", "table_name": t}),
        )

    def new(t):
        return Table(t, _hive_ddl(t, cols(3)), None, both({"list": "new_tables", "table_name": t}))

    def non_create(t):
        return Table(
            t,
            f"DROP TABLE `{t}`;\n",
            None,
            both({"list": "skipped_tables", "table_name": t, "reason": "NonCreateSQL"}),
        )

    def non_parquet(t):
        base = cols(rng.randint(3, 6))
        return Table(
            t,
            _hive_ddl(t, base, "TEXTFILE"),
            _catalog_sql(t, base, "csv"),
            both({"list": "non_parquet_tables", "table_name": t}),
        )

    def format_changed(t):
        base = cols(rng.randint(3, 6))
        return Table(
            t,
            _hive_ddl(t, base),
            _catalog_sql(t, base, "csv"),
            both(
                {
                    "list": "format_changed_tables",
                    "table_name": t,
                    "old_format": "TEXT",
                    "new_format": "PARQUET",
                }
            ),
        )

    makers = {
        "add": add,
        "identical": identical,
        "new": new,
        "non_create": non_create,
        "non_parquet": non_parquet,
        "format_changed": format_changed,
    }
    tables = [makers[kind](f"{db}.{name('t_' + kind)}") for kind, n in counts.items() for _ in range(n)]
    return Corpus(tables)
