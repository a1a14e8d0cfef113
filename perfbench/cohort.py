"""``cohort_explore``: one researcher's interactive session over a
longitudinal CSV directory.

Closed loop, one client.  The client repeats one query session in the
order the reference app's callbacks run it (SURVEY.md, entry points
EP1–EP3 and sink S9):

1. The researcher sets the filters one change at a time: the age range,
   then each session and each substudy ticked in turn, then one or two
   phenotypic range filters.  The app's live participant count fires on
   every change to these inputs, so each change is one count
   (``PlanBuilder.count_distinct_df``) of the filters set so far.
2. "Generate Merged Data" builds the merged row-set and shows its first
   50 rows: one preview with the session's filters and selected columns.
3. "Generate Reports" runs the filtering report: one
   ``filter_impact_report`` over the same filters.
4. The download: one export of the merged rows (the hub merged with all
   three spokes, ``enwiden`` 16 dynamic columns × 4 sessions,
   ``consolidate_baseline``, ``write_csv(single_file=True)``).

A session is therefore 4 to 9 counts, a preview, a report and an export.
The seed draws every filter value; how many sessions, substudies and
range filters a session sets, and on which spokes, is fixed by its
position, so every run times the same sequence of query shapes.  Every
result is checked against DuckDB after the timed window.
"""

from __future__ import annotations

import glob
import math
import os

import numpy as np

import checks
import gen

PARTICIPANTS = 2000
PRIMARY = "count"
PREVIEW_ROWS = 50
# the merged row-set's spoke columns; the export pivots age and these over
# the four sessions
EXPORT_SELECT = {"cognition": [f"cog_{i:02d}" for i in range(1, 6)],
                 "mri": [f"mri_{i:02d}" for i in range(1, 6)],
                 "questionnaire": [f"q_{i:02d}" for i in range(1, 6)]}
EXPORT_VALUES = ["age"] + [c for cols in EXPORT_SELECT.values() for c in cols]
EXPORT_STATICS = ["sex", "all_studies"]


def draw_range(rng: np.random.Generator, spoke: int) -> list:
    table, prefix, count, kind = gen.SPOKES[spoke]
    name, mean, sd = gen.column_stats(prefix, count, kind)[int(rng.integers(count))]
    if kind == "likert":
        return [table, name, float(rng.integers(0, 2)), float(rng.integers(2, 5))]
    a, b = rng.uniform(0.5, 2.0, 2)
    return [table, name, round(mean - a * sd, 2), round(mean + b * sd, 2)]


def draw_spec(rng: np.random.Generator, position: int = 0) -> dict:
    """A random filter set in the shape of the app's query panel; the
    position picks how many sessions, substudies and spoke range filters
    it has, and on which spokes."""
    n_sessions, n_studies, n_ranges = 1 + position % 4, 1 + position % 2, 1 + position % 2
    lo = round(float(rng.uniform(8, 50)), 1)
    return {
        "age": [lo, round(lo + float(rng.uniform(15, 45)), 1)],
        "sessions": sorted(str(s) for s in rng.choice(gen.SESSIONS, n_sessions, replace=False)),
        "substudies": sorted(str(s) for s in rng.choice(gen.STUDIES, n_studies, replace=False)),
        "ranges": [draw_range(rng, (position + k) % len(gen.SPOKES)) for k in range(n_ranges)],
    }


def draw_session(rng: np.random.Generator, position: int) -> list[tuple[str, dict]]:
    """One query session as (kind, spec) operations, in the app's order."""
    final = draw_spec(rng, position)
    spec = {"age": final["age"]}
    ops = [("count", spec)]
    for key in ("sessions", "substudies", "ranges"):
        for k in range(1, len(final[key]) + 1):
            spec = dict(spec, **{key: final[key][:k]})
            ops.append(("count", spec))
    merged = dict(final, select=EXPORT_SELECT)
    return ops + [("preview", merged), ("report", final), ("export", merged)]


def to_query(spec: dict):
    from basic_data_fusion_spark.plans.spec import BehavioralFilter, DemographicFilters, QuerySpec

    return QuerySpec(
        tables=list(spec.get("select", {})),
        demographic=DemographicFilters(
            age_range=tuple(spec["age"]) if spec.get("age") else None,
            substudies=spec.get("substudies"), sessions=spec.get("sessions")),
        behavioral=[BehavioralFilter(t, c, "range", (lo, hi))
                    for t, c, lo, hi in spec.get("ranges", [])],
        selected_columns=dict(spec.get("select", {})))


class CohortExplore:
    primary = PRIMARY
    min_sessions = 2

    def __init__(self, env, seed: int, tracer):
        self.env, self.seed, self.tr = env, seed, tracer
        self.data_dir = os.path.join(env.data, f"cohort_s{seed}_n{PARTICIPANTS}")
        self.out_dir = os.path.join(env.out, f"export_s{seed}")
        self.catalog = None
        self.rng = np.random.default_rng([seed, 3])

    def prepare(self) -> dict:
        return gen.write_cohort(self.data_dir, self.seed, PARTICIPANTS)

    def setup(self, spark):
        """Directory scan, schema inference and the hub's filter-range scan."""
        from basic_data_fusion_spark.catalog import Catalog

        with self.tr.span("catalog.init"):
            self.catalog = Catalog(spark, self.data_dir)
        with self.tr.span("catalog.schema"):
            for t in self.catalog.tables:
                self.catalog.info(t)
        with self.tr.span("catalog.numeric_ranges"):
            self.catalog.numeric_ranges(checks.HUB)

    def sessions(self):
        """Endless stream of query sessions, each a list of (kind, spec)."""
        position = 0
        while True:
            yield draw_session(self.rng, position)
            position += 1

    def first_op(self):
        return PRIMARY, draw_spec(self.rng)

    def run(self, kind: str, spec: dict, op_id: str):
        return getattr(self, "_" + kind)(spec, op_id)

    def _count(self, spec, op_id):
        from basic_data_fusion_spark.plans.builder import PlanBuilder

        with self.tr.span("plans.builder.build"):
            df = PlanBuilder(self.catalog, to_query(spec)).count_distinct_df()
        with self.tr.span("spark.action"):
            return df.first()["n_participants"]

    def _preview(self, spec, op_id):
        from basic_data_fusion_spark.plans.builder import PlanBuilder

        with self.tr.span("plans.builder.build"):
            df = PlanBuilder(self.catalog, to_query(spec)).preview(PREVIEW_ROWS)
        with self.tr.span("spark.action"):
            return {"columns": df.columns, "keys": [r[0] for r in df.collect()]}

    def _report(self, spec, op_id):
        from basic_data_fusion_spark.operators.aggregations import filter_impact_report
        from basic_data_fusion_spark.plans.builder import PlanBuilder

        with self.tr.span("plans.builder.build"):
            b = PlanBuilder(self.catalog, to_query(spec))
            base = b.joined()
            steps = list(zip([label for label, _ in checks.hub_steps(spec)], b.hub_predicates()))
            steps += [(f"{bf.table}.{bf.column}", b.behavioral_predicate(bf, alias=bf.table))
                      for bf in b.spec.behavioral]
        # an unqualified key is ambiguous on the longitudinal join: every
        # spoke carries its own derived customID
        with self.tr.span("operators.aggregations.filter_impact_report"):
            rep = filter_impact_report(base, "demo.customID", steps)
        with self.tr.span("spark.action"):
            return [tuple(r) for r in rep.collect()]

    def _export(self, spec, op_id):
        from pyspark.sql import functions as F

        from basic_data_fusion_spark.operators.reshape import consolidate_baseline, enwiden
        from basic_data_fusion_spark.plans.builder import PlanBuilder
        from basic_data_fusion_spark.sources.sinks import write_csv

        with self.tr.span("plans.builder.build"):
            merged = PlanBuilder(self.catalog, to_query(spec)).dataframe()
        # the longitudinal merged row-set carries customID but not the
        # primary id that enwiden groups by: re-derive it
        merged = merged.withColumn("ursi", F.substring_index("customID", "_", 1))
        with self.tr.span("operators.reshape.enwiden"):
            wide = enwiden(merged, "ursi", "session_num", "customID",
                           value_cols=EXPORT_VALUES, static_cols=EXPORT_STATICS,
                           sessions=gen.SESSIONS)
        with self.tr.span("operators.reshape.consolidate_baseline"):
            wide = consolidate_baseline(wide)
        path = os.path.join(self.out_dir, op_id)
        with self.tr.span("sources.sinks.write_csv"):
            write_csv(wide, path, single_file=True)
        return path

    # ---------------- checks (after the timed window) ----------------
    def check(self, records: list[dict]) -> dict:
        """Marks each record ``ok`` and returns export size figures."""
        oracle = checks.CohortOracle(self.data_dir)
        bytes_per_row = []
        try:
            for rec in records:
                if rec["error"]:
                    continue
                kind, spec, got = rec["kind"], rec["spec"], rec["result"]
                if kind == "count":
                    rec["ok"] = got == oracle.count(spec)
                elif kind == "preview":
                    keys = oracle.filtered_keys(spec)
                    rec["ok"] = (got["columns"] == checks.preview_columns(spec)
                                 and len(got["keys"]) == min(PREVIEW_ROWS, len(keys))
                                 and len(set(got["keys"])) == len(got["keys"])
                                 and set(got["keys"]) <= keys)
                elif kind == "report":
                    rec["ok"] = _same_report(got, oracle.impact(spec))
                else:
                    want = oracle.export_digest(spec, EXPORT_VALUES, EXPORT_STATICS, gen.SESSIONS)
                    have = checks.csv_digest(oracle.con, got)
                    rec["ok"] = have == want
                    files = glob.glob(os.path.join(got, "*.csv"))
                    if have[0]:
                        bytes_per_row.append(sum(os.path.getsize(f) for f in files) / have[0])
        finally:
            oracle.close()
        return {"sources.sinks.bytes_per_row": float(np.median(bytes_per_row)) if bytes_per_row else 0.0}

    def named(self, lat: dict, manifest: dict) -> dict:
        out = {}
        counts = sorted(lat.get("count", []))
        if counts:
            out["count_p50_ms"] = (float(np.median(counts)) * 1000, "ms")
            tail = tail_percentile(len(counts))
            if tail:
                out[f"count_p{tail}_ms"] = (float(np.percentile(counts, tail)) * 1000, "ms")
        for kind, name, scale, unit in (("preview", "preview_p50_ms", 1000, "ms"),
                                        ("report", "report_p50_ms", 1000, "ms"),
                                        ("export", "export_p50_s", 1, "s")):
            if lat.get(kind):
                out[name] = (float(np.median(lat[kind])) * scale, unit)
        return out


def tail_percentile(n: int) -> int | None:
    """The highest of p90/p75/p66 with at least ten samples beyond it."""
    for p in (90, 75, 66):
        if n - math.ceil(n * p / 100) >= 10:
            return p
    return None


def _same_report(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if tuple(g[:3]) != tuple(w[:3]):
            return False
        if any(abs(a - b) > 1e-9 for a, b in zip(g[3:], w[3:])):
            return False
    return True
