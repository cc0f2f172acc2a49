"""The two workloads and the battery side pass. Each drives the engine's
public entry points only.

A workload has ``setup()`` (input generation, excluded from ``setup_s``),
``prepare(i)`` (untimed per-op state reset), ``op(i)`` (the timed op),
``check(out)`` (untimed output check) and ``layer_metrics(outs)``.
Every public call is made inside ``tracer.span(<layer>)``, and
``instrument()`` wraps the layers an entry point calls internally, so a
traced op records them without touching engine code. ``side_pass`` names
a workload run once after the traced ops (it measures layers the two
pipelines leave idle).
"""

from __future__ import annotations

import csv
import glob
import json
import math
import os
import random
import shutil
import sys

import gen

# The 24 headline entries of bench.py's one-line summary; a battery pass
# runs a seed-chosen quarter of them.
HEADLINE = [
    "flagship_pnls_chain", "pipeline_a_ist_scaled", "pricing_summary",
    "rules_engine_lineitem", "dedup_exact_docs",
    "dedup_minhash_lsh_pairs", "dedup_connected_components",
    "cdc_chunk_dedup", "embed_cosine_topk", "embed_ivf_kmeans_topk",
    "text_tfidf_topk", "text_lang_id", "fuzzy_resolve_suppliers",
    "salted_skew_join", "bucketed_colocated_join",
    "zorder_clustered_scan", "streaming_tumbling_counts",
    "rollup_lineitem", "count_distinct_parts", "pvm_brand_yoy",
    "sessionize_events", "scd2_customer_history", "asof_join_two_table",
    "window_rank_customers",
]


NAOMI_QUARTERS = ["03", "06", "09", "12"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


class Workload:
    name = ""
    input_rows = 0
    side_pass: type[Workload] | None = None
    # metrics the pipeline workloads compute from their outputs, with units;
    # every workload reports all of them (0 where a layer is idle)
    METRICS = {
        "operators.rules.flagged_frac": "ratio",
        "io.rest.requests": "count",
        "io.rest.dropped": "count",
        "io.sinks.bytes": "bytes",
        "operators.fuzzy.match_frac.registry": "ratio",
        "operators.fuzzy.match_frac.facility": "ratio",
        "operators.fuzzy.match_frac.district": "ratio",
        "operators.fuzzy.state_bytes": "bytes",
    }

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer

    def instrument(self) -> None:
        """Wrap layers the entry points call internally (traced runs)."""

    def prepare(self, i: int) -> None:
        """Untimed per-op reset."""

    def layer_metrics(self, outs: list[dict]) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------


class PnlsReport(Workload):
    """One op = one monthly entry-point-A run: DHIS2 analytics for IST,
    PEC and PTME at shipped width through ``io.rest``, the NAOMI leg,
    ``run_pipeline_a``, the per-period CSV export and the Excel review of
    the flagged rows."""

    name = "pnls_report"
    n_facilities = 60
    pathologies = ("IST", "PEC", "PTME")

    def setup(self) -> None:
        from hiv_data_integration_spark import ref_constants as rc
        from hiv_data_integration_spark.functions import standardize_column_name
        from hiv_data_integration_spark.operators.rules import evaluate_rules_python

        spark = self.spark
        self.contracts = {p: rc.expected_value_columns(p) for p in self.pathologies}
        inp = gen.pnls_inputs(self.seed, self.n_facilities, self.contracts)
        self.input_rows = inp["input_rows"]
        self.periods = inp["periods"]
        sc = spark.sparkContext
        self.acc_req, self.acc_ok = sc.accumulator(0), sc.accumulator(0)
        self.dhis2_fetch = _counted(inp["dhis2_fetch"], self.acc_req, self.acc_ok)
        self.naomi_fetch = _counted(inp["naomi_fetch"], self.acc_req, self.acc_ok)
        self.units = spark.createDataFrame(
            [(*u, None) for u in inp["units"]],
            "id string, name string, level long, path string, geometry string",
        ).cache()
        self.coc = spark.createDataFrame([(gen.DEFAULT_COC, "default")], "id string, name string")
        self.de_maps = {
            p: spark.createDataFrame(rows, "id string, column string, type string").cache()
            for p, rows in inp["de_maps"].items()
        }
        self.de_ids = {p: [r[0] for r in rows] for p, rows in inp["de_maps"].items()}
        self.naomi_mapping = spark.createDataFrame(
            inp["naomi_mapping"], "code string, organisation_unit_id string"
        ).cache()
        ages = ["Y000_004", "Y005_009", "Y010_014", "Y015_019", "Y020_024",
                "Y025_049", "Y050_999"]
        suffix = ["age_0_4_ans", "age_05_09_ans", "age_10_14_ans", "age_15_19_ans",
                  "age_20_24_ans", "age_25_49_ans", "age_50_ans_et_plus"]
        self.naomi_coc = {
            f"{a}, {sex}": f"{s}_{sex[0].upper()}"
            for a, s in zip(ages, suffix)
            for sex in ("male", "female")
        }
        self.naomi_cols = {"plhiv": "indicateur_9", "aware_plhiv_num": "indicateur_10"}
        self.prefix_maps = {p: dict(rc.REPORT_INDICATOR_MAPS[p]) for p in self.contracts}
        self.naomi_prefix = dict(rc.REPORT_INDICATOR_MAPS["NAOMI"])
        wide_cols = [
            (c, p)
            for pth, cols in self.contracts.items()
            for c in cols
            for p in self.prefix_maps[pth]
        ] + [
            (f"{ind}_{s}", ind) for ind in self.naomi_cols.values() for s in self.naomi_coc.values()
        ]
        self.report_cols = sorted(
            {standardize_column_name(c[len(p):]) for c, p in wide_cols if c.startswith(p)}
        )
        # expected review rows: the per-row Python rule oracle over the
        # generated wide rows (identical value vectors evaluated once)
        keys = ["organisation_unit_id", "period"]
        self.expected_flagged = {}
        self.wide_rows = 0
        for p, cols in self.contracts.items():
            rules = dict(rc.rules_for(p))
            columns = keys + cols
            verdict: dict[tuple, bool] = {}
            flagged = set()
            for row in inp["wide_rows"][p]:
                vec = tuple(row[c] for c in cols)
                if vec not in verdict:
                    colors = evaluate_rules_python([row], columns, rules, keys)[0]
                    verdict[vec] = any(v is not None for v in colors.values())
                if verdict[vec]:
                    flagged.add((row["organisation_unit_id"], row["period"]))
                self.wide_rows += 1
            self.expected_flagged[p] = flagged
        self.expected = self._expected_report(inp, standardize_column_name)
        self.template = os.path.join(self.work, "review_template.xlsx")
        gen.write_xlsx(self.template, {p: [["Revue"], [p]] for p in self.contracts})

    def _expected_report(self, inp: dict, canonical) -> dict[tuple, dict[str, int]]:
        """The report as the golden format defines it, from the generated
        values: ``(idsite, periode, Indicateur) -> {value column: value}``
        (non-empty cells only). One row per indicator of every unflagged
        wide row and per NAOMI district × quarter-end month × indicator;
        each indicator's columns (those starting with its prefix) are
        renamed to their canonical report name (``canonical``), columns
        sharing a name are summed, names outside the report are dropped,
        and values are rounded half up."""
        path = {u[0]: u[3] for u in inp["units"]}
        report_cols = set(self.report_cols)

        def key(ou: str, pe: str, ind: int) -> tuple:
            return ("_".join(path[ou].split("/")[2:]), f"{pe[:4]}-{pe[4:]}-01", str(ind))

        def cells(values: dict, prefixes: dict) -> dict[int, dict[str, int]]:
            out = {}
            for prefix, ind in prefixes.items():
                merged: dict[str, float] = {}
                for c, v in values.items():
                    name = canonical(c)
                    if c.startswith(prefix) and v is not None and name in report_cols:
                        merged[name] = merged.get(name, 0.0) + v
                out[ind] = {n: math.floor(v + 0.5) for n, v in merged.items()}
            return out

        expected = {}
        for p, cols in self.contracts.items():
            for row in inp["wide_rows"][p]:
                ou, pe = row["organisation_unit_id"], row["period"]
                if (ou, pe) in self.expected_flagged[p]:
                    continue
                for ind, got in cells({c: row[c] for c in cols}, self.prefix_maps[p]).items():
                    expected[key(ou, pe, ind)] = got
        # NAOMI: each (indicator, sex, age) request's district estimates,
        # replicated to every quarter-end month of the year
        naomi: dict[str, dict[str, float]] = {}
        for indicator, col in self.naomi_cols.items():
            for coc, suffix in self.naomi_coc.items():
                age, sex = coc.split(", ")
                (resp,) = inp["naomi_fetch"]({"indicator": indicator, "sex": sex, "age_code": age})
                for region in json.loads(resp["payload_json"])[0]["subareas"]:
                    for d in region["subareas"]:
                        naomi.setdefault(d["code"], {})[f"{col}_{suffix}"] = d["mean"]
        for code, ou in inp["naomi_mapping"]:
            for ind, got in cells(naomi[code], self.naomi_prefix).items():
                for q in NAOMI_QUARTERS:
                    expected[key(ou, f"2024{q}", ind)] = got
        return expected

    def instrument(self) -> None:
        from hiv_data_integration_spark.pipeline import pnls

        t = self.tracer
        t.wrap(pnls, "pathology_extract", "pipeline.extract")
        t.wrap(pnls, "split_by_consistency", "operators.rules")
        t.wrap(pnls, "stack_pathologies", "pipeline.report")
        t.wrap(pnls, "finalize_report", "pipeline.report")

    def op(self, i: int) -> dict:
        from hiv_data_integration_spark.io import rest, sinks
        from hiv_data_integration_spark.pipeline import pnls

        spark, span = self.spark, self.tracer.span
        req0, ok0 = self.acc_req.value, self.acc_ok.value
        specs = []
        with span("io.rest"):
            for p in self.contracts:
                analytics = rest.dhis2_analytics_source(
                    spark, self.dhis2_fetch, self.de_ids[p], self.periods
                )
                specs.append(pnls.reference_pathology_spec(p, analytics, self.de_maps[p]))
            naomi = rest.naomi_source(spark, self.naomi_fetch)
        with span("pipeline.naomi"):
            naomi_wide = pnls.naomi_to_wide(
                naomi, self.naomi_mapping, self.naomi_coc, self.naomi_cols,
                year=2024, quarter_suffixes=NAOMI_QUARTERS,
            )
        with span("pipeline"):
            report, flagged = pnls.run_pipeline_a(
                spark, specs, self.coc, self.units, self.report_cols,
                naomi_wide=(naomi_wide, self.naomi_prefix),
            )
        out_dir = os.path.join(self.work, f"report_{i}")
        with span("io.sinks.csv"):
            files = sinks.export_csv_per_period(report, "periode", out_dir)
        with span("io.excel.write"):
            for p, df in flagged.items():
                sinks.write_excel_review(
                    df, self.template, p, os.path.join(out_dir, f"review_{p}.xlsx")
                )
        return {"files": files, "flagged": flagged, "out_dir": out_dir,
                "requests": self.acc_req.value - req0,
                "returned": self.acc_ok.value - ok0}

    def check(self, out: dict) -> bool:
        got: dict[tuple, dict[str, int]] = {}
        n_rows = 0
        for f in out["files"]:
            with open(f, newline="") as fh:
                header, *body = list(csv.reader(fh))
            keys = [header.index(c) for c in ("idsite", "periode", "Indicateur")]
            values = [i for i in range(len(header)) if i not in keys]
            for r in body:
                got[tuple(r[i] for i in keys)] = {
                    header[i]: int(float(r[i])) for i in values if r[i] != ""
                }
            n_rows += len(body)
        out["bytes"] = _dir_bytes(out["out_dir"])
        ok = n_rows == len(got) and got == self.expected
        if not ok:
            bad = sorted(k for k in got.keys() | self.expected.keys()
                         if got.get(k) != self.expected.get(k))
            print(f"perfbench: report differs from the expected values ({n_rows} rows, "
                  f"{len(self.expected)} expected; first differing keys {bad[:3]})",
                  file=sys.stderr)
        n_flagged = 0
        for p, df in out.pop("flagged").items():
            got = {(r[0], r[1]) for r in df.select("organisation_unit_id", "period").collect()}
            if got != self.expected_flagged[p]:
                print(f"perfbench: {p} flagged {sorted(got ^ self.expected_flagged[p])} "
                      "disagree with the rule oracle", file=sys.stderr)
                ok = False
            n_flagged += len(got)
        out["flagged_frac"] = n_flagged / self.wide_rows
        shutil.rmtree(out["out_dir"], ignore_errors=True)
        return ok

    def layer_metrics(self, outs: list[dict]) -> dict[str, float]:
        return {
            "operators.rules.flagged_frac": _median([o["flagged_frac"] for o in outs]),
            "io.rest.requests": _median([o["requests"] for o in outs]),
            "io.rest.dropped": _median([o["requests"] - o["returned"] for o in outs]),
            "io.sinks.bytes": _median([o["bytes"] for o in outs]),
        }


def _counted(fetch, acc_req, acc_ok):
    """Wrap a fetch function so every request and every returned request
    is counted in driver-side accumulators (a request that raises is
    retried, then dropped by the engine, and never counts as returned)."""

    def counted_fetch(param: dict) -> list[dict]:
        acc_req.add(1)
        rows = fetch(param)
        acc_ok.add(1)
        return rows

    return counted_fetch


# ---------------------------------------------------------------------------


class BatteryPass(Workload):
    """One op = one pass over ``n_entries`` of the headline battery
    entries, chosen and ordered by the seed, each built and executed to a
    noop sink on seeded TPC-H-ish tables. Row counts are checked against
    the entries' DuckDB oracles, computed once at set-up.

    It is ``chu_ingest``'s side pass: the only place ``operators.dedup``,
    ``similarity``, ``textops``, ``aggregate``, ``streaming`` and the
    eager build-time jobs (connected components, k-means, streaming runs)
    do the work. A whole pass as a third workload would not fit the
    benchmark's run budget."""

    name = "battery"
    scale = 1.0
    n_entries = 6

    def setup(self) -> None:
        import __spark_entry__ as contract
        from hiv_data_integration_spark.battery import QUERIES
        from hiv_data_integration_spark.battery_ext import EXT_QUERIES
        from hiv_data_integration_spark.battery_sql import SQL2_QUERIES
        from hiv_data_integration_spark.benchmarks import pipeline_a_ist_scaled

        queries = {**QUERIES, **EXT_QUERIES, **SQL2_QUERIES,
                   "pipeline_a_ist_scaled": pipeline_a_ist_scaled}
        self.sf_dir = os.path.join(self.work, "tables")
        rows = gen.battery_tables(self.seed, self.sf_dir, self.scale)
        self.input_rows = sum(rows.values())
        order = list(HEADLINE)
        random.Random(f"order|{self.seed}").shuffle(order)
        self.order = order[: self.n_entries]
        self.queries = {n: queries[n] for n in self.order}
        self.expected = self._oracle_counts(contract.oracle_sql())

    def _oracle_counts(self, oracle: dict[str, str]) -> dict[str, int]:
        import duckdb

        con = duckdb.connect()
        for t in glob.glob(os.path.join(self.sf_dir, "*.parquet")):
            name = os.path.basename(t)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
        out = {
            n: con.execute(f"SELECT count(*) FROM ({oracle[n]})").fetchone()[0]
            for n in self.order
            if n in oracle
        }
        con.close()
        return out

    def op(self, i: int) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        counts = {}
        for n in self.order:
            obs = Observation(f"rows_{i}_{n}")
            with self.tracer.span("battery.build"):
                df = self.queries[n](self.spark, self.sf_dir)
            with self.tracer.span("battery.exec"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop"
                ).mode("overwrite").save()
            counts[n] = obs.get["n"]
        return {"counts": counts}

    def check(self, out: dict) -> bool:
        """Each count matches its oracle; an entry without one
        (``pipeline_a_ist_scaled``) must return rows."""
        ok = True
        for n, c in out["counts"].items():
            if c != self.expected.get(n, c) or c == 0:
                print(f"perfbench: battery entry {n} returned {c} rows, expected "
                      f"{self.expected.get(n, '> 0')}", file=sys.stderr)
                ok = False
        return ok


# ---------------------------------------------------------------------------


class ChuIngest(Workload):
    """One op = one entry-point-C run: CHU workbooks read through
    ``io.excel``, headers and cells cleaned through ``io.headers``,
    ``run_pipeline_c`` with registry and PEC-history upserts and the
    semester re-aggregation, then the per-period CSV export."""

    name = "chu_ingest"
    side_pass = BatteryPass
    n_districts = 100
    n_facilities = 4000
    n_names = 160
    n_workbooks = 4

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        spark = self.spark
        src = os.path.join(self.work, "chu_src")
        os.makedirs(src, exist_ok=True)
        inp = gen.chu_inputs(self.seed, src, self.n_districts, self.n_facilities,
                             self.n_names, self.n_workbooks)
        self.workbooks = inp["workbooks"]
        self.names = inp["names"]
        self.input_rows = inp["input_rows"]
        self.registry_names = {r[1] for r in inp["registry"]}
        self.facility_paths = {u[3] for u in inp["units"] if u[2] == 4}
        self.units = spark.createDataFrame(
            [(*u, None) for u in inp["units"]],
            "id string, name string, level long, path string, geometry string",
        ).cache()
        self.registry_seed = os.path.join(self.work, "registry_seed.parquet")
        os.makedirs(self.registry_seed, exist_ok=True)
        ids, facs, dists = zip(*inp["registry"])
        pq.write_table(
            pa.table({"organisation_unit_id": ids, "formations_sanitaires": facs,
                      "districts_sanitaires": dists}),
            os.path.join(self.registry_seed, "part-00000.parquet"),
        )
        self.state = os.path.join(self.work, "state")

    def instrument(self) -> None:
        from hiv_data_integration_spark.pipeline import pnls

        t = self.tracer
        t.wrap(pnls, "resolve_entities", "operators.fuzzy.resolve")
        t.wrap(pnls, "upsert_parquet_state", "operators.fuzzy.upsert")
        t.wrap(pnls, "stack_pathologies", "pipeline.report")
        t.wrap(pnls, "finalize_report", "pipeline.report")

    def prepare(self, i: int) -> None:
        # the same seeded state before every op: half the facilities
        # registered, no PEC history yet
        shutil.rmtree(self.state, ignore_errors=True)
        os.makedirs(self.state)
        shutil.copytree(self.registry_seed, os.path.join(self.state, "registry.parquet"))

    def op(self, i: int) -> dict:
        from hiv_data_integration_spark.io import excel, headers, sinks
        from hiv_data_integration_spark.pipeline import pnls

        spark, span = self.spark, self.tracer.span
        frames = []
        for path in self.workbooks:
            with span("io.excel.read"):
                pdf = excel.read_excel_sheet(path, "PEC")
                sdf = excel.excel_sheet_to_spark(spark, pdf)
            with span("io.headers"):
                sheet, _district = headers.standardize_chu_columns(sdf, sheet_name="PEC")
                frames.append(headers.clean_chu_cells(sheet))
        sheet = frames[0]
        for f in frames[1:]:
            sheet = sheet.unionByName(f)
        with span("pipeline"):
            report, registry = pnls.run_pipeline_c(
                spark,
                sheets={"PEC": (sheet, {"indicateur_11": 11, "indicateur_14": 14})},
                facility_col="formations_sanitaires",
                period_col="periode",
                registry_path=os.path.join(self.state, "registry.parquet"),
                org_units=self.units,
                report_value_columns=["nosex_noage"],
                history_path=os.path.join(self.state, "history.parquet"),
                history_sheet="PEC",
                history_prefix_map={"indicateur_11": 13},
                quarter_end="06",
                year=2024,
                district_col="districts_sanitaires",
            )
        out_dir = os.path.join(self.work, f"chu_report_{i}")
        with span("io.sinks.csv"):
            files = sinks.export_csv_per_period(report, "periode", out_dir)
        return {"files": files, "registry": registry, "out_dir": out_dir}

    def check(self, out: dict) -> bool:
        got = {
            r[0]: r[1]
            for r in out.pop("registry")
            .select("formations_sanitaires", "organisation_unit_id")
            .collect()
        }
        ok = len(out["files"]) == len(gen.CHU_MONTHS)
        tiers = {1: [0, 0], 2: [0, 0], 3: [0, 0]}  # tier -> [attempted, resolved]
        for n in self.names:
            name = n["name"].strip()
            if got.get(name) != n["truth"]:
                print(f"perfbench: {name!r} (tier {n['tier']}) resolved to "
                      f"{got.get(name)!r}, expected {n['truth']!r}", file=sys.stderr)
                ok = False
            resolved_at = (
                None if name not in got
                else 1 if name in self.registry_names
                else 2 if got[name] in self.facility_paths
                else 3
            )
            for t in (1, 2, 3):
                tiers[t][0] += 1
                if resolved_at == t:
                    tiers[t][1] += 1
                    break
        out["match_frac"] = {t: r / a for t, (a, r) in tiers.items()}
        out["state_bytes"] = _dir_bytes(self.state)
        out["bytes"] = _dir_bytes(out["out_dir"])
        shutil.rmtree(out["out_dir"], ignore_errors=True)
        return ok

    def layer_metrics(self, outs: list[dict]) -> dict[str, float]:
        return {
            "operators.fuzzy.match_frac.registry": _median([o["match_frac"][1] for o in outs]),
            "operators.fuzzy.match_frac.facility": _median([o["match_frac"][2] for o in outs]),
            "operators.fuzzy.match_frac.district": _median([o["match_frac"][3] for o in outs]),
            "operators.fuzzy.state_bytes": _median([o["state_bytes"] for o in outs]),
            "io.sinks.bytes": _median([o["bytes"] for o in outs]),
        }


# ---------------------------------------------------------------------------


WORKLOADS = {w.name: w for w in (PnlsReport, ChuIngest)}


def _median(xs: list[float]) -> float:
    import statistics

    return float(statistics.median(xs)) if xs else 0.0
