"""Output checks against DuckDB over the same generated files.

A cohort query is a plain dict (see ``cohort.draw_spec``)::

    {"age": [lo, hi], "sessions": [...], "substudies": [...],
     "ranges": [[table, column, lo, hi], ...], "select": {table: [columns]}}

The oracle re-states each engine operation in SQL over the generated CSV
files, with the reference app's semantics: a hub ``demo`` LEFT JOINed to
its spokes on ``customID = ursi || '_' || session_num``.  Every check
runs after the timed window.
"""

from __future__ import annotations

import os

import duckdb

HUB = "demographics"
_P = 1_000_000_007


def _num(x: float) -> str:
    # a string cast parses straight to the correctly rounded double,
    # the same value the engine's float literal carries
    return f"CAST('{x!r}' AS DOUBLE)"


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def hub_steps(spec: dict) -> list[tuple[str, str]]:
    """(label, predicate) in the engine's fixed order: substudy, session, age."""
    steps = []
    if spec.get("substudies"):
        padded = "(' ' || regexp_replace(CAST(demo.all_studies AS VARCHAR), '[,;]', ' ', 'g') || ' ')"
        steps.append(("substudy", "(" + " OR ".join(
            f"{padded} LIKE {_q('% ' + v + ' %')}" for v in spec["substudies"]) + ")"))
    if spec.get("sessions"):
        steps.append(("session", "demo.session_num IN ("
                      + ", ".join(_q(s) for s in spec["sessions"]) + ")"))
    if spec.get("age"):
        lo, hi = spec["age"]
        steps.append(("age", f"demo.age BETWEEN {_num(lo)} AND {_num(hi)}"))
    return steps


def range_steps(spec: dict) -> list[tuple[str, str]]:
    return [(f"{t}.{c}", f"{t}.{c} BETWEEN {_num(lo)} AND {_num(hi)}")
            for t, c, lo, hi in spec.get("ranges", [])]


def join_tables(spec: dict) -> list[str]:
    out = []
    for t in list(spec.get("select", {})) + [r[0] for r in spec.get("ranges", [])]:
        if t != HUB and t not in out:
            out.append(t)
    return out


def preview_columns(spec: dict) -> list[str]:
    cols = ["customID", "session_num", "age", "sex", "all_studies"]
    for t in join_tables(spec):
        cols += [c for c in spec.get("select", {}).get(t, []) if c not in cols]
    return cols


class CohortOracle:
    def __init__(self, data_dir: str, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        for fn in sorted(os.listdir(data_dir)):
            name, ext = os.path.splitext(fn)
            if ext == ".csv":
                path = os.path.join(data_dir, fn)
                self.con.execute(
                    f"CREATE TABLE {name} AS SELECT *, ursi || '_' || session_num AS customID "
                    f"FROM read_csv({_q(path)}, header=true)")

    def close(self) -> None:
        self.con.close()

    def _from(self, spec: dict) -> str:
        sql = f"{HUB} AS demo"
        for t in join_tables(spec):
            sql += f" LEFT JOIN {t} ON demo.customID = {t}.customID"
        return sql

    def _where(self, spec: dict) -> str:
        preds = [p for _, p in hub_steps(spec) + range_steps(spec)]
        return " AND ".join(preds) if preds else "TRUE"

    def count(self, spec: dict) -> int:
        sql = (f"SELECT COUNT(DISTINCT demo.customID) FROM {self._from(spec)} "
               f"WHERE {self._where(spec)}")
        return self.con.execute(sql).fetchone()[0]

    def filtered_keys(self, spec: dict) -> set[str]:
        sql = f"SELECT demo.customID FROM {self._from(spec)} WHERE {self._where(spec)}"
        return {r[0] for r in self.con.execute(sql).fetchall()}

    def impact(self, spec: dict) -> list[tuple]:
        """The cumulative filter-impact table: (step, remaining, removed,
        pct_removed, cum_pct_removed), baseline first."""
        steps = hub_steps(spec) + range_steps(spec)
        aggs = ["COUNT(DISTINCT demo.customID)"]
        for i in range(1, len(steps) + 1):
            cond = " AND ".join(p for _, p in steps[:i])
            aggs.append(f"COUNT(DISTINCT CASE WHEN {cond} THEN demo.customID END)")
        counts = self.con.execute(f"SELECT {', '.join(aggs)} FROM {self._from(spec)}").fetchone()
        base = counts[0]
        rows, prev = [("baseline", base, 0, 0.0, 0.0)], base
        for (label, _), remaining in zip(steps, counts[1:]):
            removed = prev - remaining
            rows.append((label, remaining, removed,
                         (100.0 * removed) / prev if prev else 0.0,
                         (100.0 * (base - remaining)) / base if base else 0.0))
            prev = remaining
        return rows

    def export_sql(self, spec: dict, value_cols: list[str], static_cols: list[str],
                   sessions: list[str]) -> str:
        """The merged, enwidened, baseline-consolidated export relation."""
        def at(col, sess):
            return f"MAX(CASE WHEN session_num = {_q(sess)} THEN \"{col}\" END)"

        spoke_cols = [f"{t}.{c}" for t in join_tables(spec) for c in spec["select"][t]]
        merged = (f"SELECT demo.customID, demo.session_num, demo.age, demo.sex, demo.all_studies, "
                  f"{', '.join(spoke_cols)} FROM {self._from(spec)} WHERE {self._where(spec)}")
        base = [s for s in sessions if s.startswith("BAS")]
        other = [s for s in sessions if not s.startswith("BAS")]
        sel = ["split_part(customID, '_', 1) AS ursi"]
        for c in value_cols:
            for s in other:
                sel.append(f"{at(c, s)} AS \"{c}_{s}\"")
            sel.append("COALESCE(" + ", ".join(at(c, s) for s in sorted(base, reverse=True))
                       + f") AS \"{c}_BAS\"")
        sel += [f"MIN({c}) AS {c}" for c in static_cols]
        return f"SELECT {', '.join(sel)} FROM ({merged}) GROUP BY 1"

    def export_digest(self, spec: dict, value_cols: list[str], static_cols: list[str],
                      sessions: list[str]) -> tuple[int, list[str], int]:
        """Digest of the export relation without its all-null columns,
        which the engine's CSV sink drops (as the reference's export does)."""
        sql = self.export_sql(spec, value_cols, static_cols, sessions)
        cols = [r[0] for r in self.con.execute(f"DESCRIBE {sql}").fetchall()]
        counts = self.con.execute(
            "SELECT " + ", ".join(f'COUNT("{c}")' for c in cols) + f" FROM ({sql})").fetchone()
        keep = ", ".join(f'"{c}"' for c, n in zip(cols, counts) if n)
        return relation_digest(self.con, f"SELECT {keep} FROM ({sql})")


def relation_digest(con, sql: str) -> tuple[int, list[str], int]:
    """(row count, sorted column names, order-insensitive value hash).

    Numbers are compared as doubles rounded to 4 decimals, so a value the
    engine re-encodes as text (``12.5`` vs ``12.50``, int vs double)
    hashes the same; NULL hashes as a marker distinct from any value."""
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    cols = sorted(r[0] for r in desc)
    types = {r[0]: r[1] for r in desc}
    parts = []
    for c in cols:
        ref = f'"{c}"'
        if types[c] == "VARCHAR":
            parts.append(f"COALESCE({ref}, '\\N')")
        else:
            parts.append(f"COALESCE(CAST(ROUND(CAST({ref} AS DOUBLE), 4) AS VARCHAR), '\\N')")
    row = "concat_ws('|', " + ", ".join(parts) + ")"
    n, h = con.execute(
        f"SELECT COUNT(*), COALESCE(SUM(hash({row}) % {_P}), 0) FROM ({sql})").fetchone()
    return n, cols, int(h)


def csv_digest(con, path: str) -> tuple[int, list[str], int]:
    """Digest of a CSV written by the engine (a file or a part-file directory)."""
    pattern = os.path.join(path, "*.csv") if os.path.isdir(path) else path
    return relation_digest(con, f"SELECT * FROM read_csv({_q(pattern)}, header=true)")


def exact_canon_ids(corpus_path: str) -> dict[int, int]:
    """Each doc id -> the min doc id with the same whitespace-normalized,
    lowercased content md5.  The values are the engine's exact-dedup keep
    set."""
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        rows = con.execute(
            "SELECT doc_id, MIN(doc_id) OVER (PARTITION BY "
            "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) FROM read_parquet(?)",
            [corpus_path]).fetchall()
    finally:
        con.close()
    return dict(rows)
