"""The two workloads: one pass of each, its traced breakdown, and the
output checks.

``daily_pipeline`` is the reference's daily job: the full refresh
(``pipelines.run_csv_ingest → run_stats_pipeline →
run_county_stats_pipeline``) into a fresh store, then the day's
increments as two Structured Streaming queries into the same
``florida`` table (append-new, then the cohort's travel-status merge).

``query_mix`` builds and materializes registered suite queries, one per
call, each consumed in full by a ``noop`` write.

Checks are pure functions of plain-Python summaries so a test can
corrupt a summary and see the check fail; the summaries are read from
Spark outside the timed window.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import statistics
import time

from covid_19_fl_spark import ingest, pipelines, schemas
from covid_19_fl_spark.sinks.batch import ParquetTable
from covid_19_fl_spark.sources import files as file_sources
from covid_19_fl_spark.streaming import pipeline as streaming

from spans import written_files

# name → family. The iterative graph query sets wall_s, the light ones
# set op_p50_s. No similarity query: at this corpus size their cost is
# fixed overhead, and x_link_prediction alone would add ~14 s a run.
QUERY_MIX = {
    "q3_top_unshipped": "relational",
    "j1_broadcast_left_join": "relational",
    "w1_cumulative_daily": "window",
    "w2_cumulative_by_group": "window",
    "a5_mean_tail_rates": "window",
    "x_label_propagation": "graph",
    "tx_repetition_scores": "text_udf",
    "tx_pii_redaction": "text_udf",
}
FAMILIES = ("relational", "window", "graph", "text_udf")
STREAM_TIMEOUT_S = 120
UPDATES_SCHEMA = "case_number long, travel string, updated_at string"


def noop(df) -> None:
    """Consume every row and column without a sink (no count() pruning)."""
    df.write.format("noop").mode("overwrite").save()


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# daily_pipeline
# ---------------------------------------------------------------------------


def _drain(query) -> list[dict]:
    """Wait for an availableNow stream; return its data micro-batches."""
    try:
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError(f"stream {query.name or query.id} did not drain in {STREAM_TIMEOUT_S}s")
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
    finally:
        if query.isActive:
            query.stop()
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def daily_pass(spark, tr, inp: dict, store: str) -> dict:
    """One daily run into a fresh ``store``. Returns per-operation
    latencies and the stream facts the traced run reports."""
    shutil.rmtree(store, ignore_errors=True)
    os.makedirs(store)
    florida = ParquetTable(spark, os.path.join(store, "florida"))
    out: dict = {"stages": {}, "store": store, "since_ms": int(time.time() * 1000)}
    with tr.span("pass") as out["span"]:
        with tr.span("pipelines.csv_ingest") as s:
            out["ingest_new_records"] = pipelines.run_csv_ingest(spark, inp["cases_csv"], inp["counties_json"], store)
        out["stages"]["csv_ingest"] = s
        with tr.span("pipelines.stats") as s:
            pipelines.run_stats_pipeline(spark, store)
        out["stages"]["stats"] = s
        with tr.span("pipelines.county_stats") as s:
            pipelines.run_county_stats_pipeline(spark, inp["counties_json"], store)
        out["stages"]["county_stats"] = s

        counties = file_sources.read_counties_json(spark, inp["counties_json"])
        raw = (
            spark.readStream.schema(schemas.CASES_RAW_CSV)
            .option("header", False).option("maxFilesPerTrigger", 1).csv(inp["drops_dir"])
        )
        located = ingest.attach_location(ingest.normalize_cases(raw), counties)
        with tr.span("streaming.append") as out["append_span"]:
            q = streaming.write_append_new(
                located, florida, "case_number", os.path.join(store, "_ckpt_append")
            ).trigger(availableNow=True).start()
            out["append"] = _drain(q)
        out["table_files_after_append"] = _parquet_files(florida.path)

        updates = (
            spark.readStream.schema(UPDATES_SCHEMA)
            .option("header", False).option("maxFilesPerTrigger", 1).csv(inp["updates_dir"])
        )
        with tr.span("streaming.merge") as out["merge_span"]:
            q = streaming.write_merge(
                updates, florida, "case_number", ["travel"],
                os.path.join(store, "_ckpt_merge"), order_col="updated_at",
            ).trigger(availableNow=True).start()
            out["merge"] = _drain(q)
    # An operation is a stage or a micro-batch; a day's increment is
    # its append batch plus its merge batch.
    out["ops"] = len(out["stages"]) + len(out["append"]) + len(out["merge"])
    out["ops_s"] = {name: s.duration for name, s in out["stages"].items()}
    out["ops_s"].update(append=out["append_span"].duration, merge=out["merge_span"].duration)
    out["day_s"] = [
        (a["durationMs"]["triggerExecution"] + m["durationMs"]["triggerExecution"]) / 1000
        for a, m in zip(out["append"], out["merge"])
    ]
    return out


def _parquet_files(path: str) -> int:
    return sum(1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def summarize_daily(spark, inp: dict, pass_out: dict) -> dict:
    """Read what the pass left in its store as plain Python values."""
    from pyspark.sql import functions as F

    store = pass_out["store"]
    growth = ParquetTable(spark, os.path.join(store, "florida_growth")).read()
    series = {
        name: sorted(
            (r["date"].isoformat(), r["count"])
            for r in growth.filter(F.col("series") == name).collect()
        )
        for name in ("actual", "predicted")
    }
    top = ParquetTable(spark, os.path.join(store, "top_five_counties")).read()
    top5 = {}
    for r in top.groupBy("county").agg(
        F.count("*").alias("rows"),
        F.max("count").alias("final_count"),
        F.max_by("normalized_count", "date").alias("final_per_capita"),
    ).collect():
        top5[r["county"]] = {"rows": r["rows"], "final_count": r["final_count"], "final_per_capita": r["final_per_capita"]}

    florida = ParquetTable(spark, os.path.join(store, "florida")).read()
    upd = spark.read.schema(UPDATES_SCHEMA).csv(inp["updates_dir"]).select("case_number").distinct()
    flagged = florida.join(upd.withColumn("cohort", F.lit(True)), "case_number", "left")
    tot = florida.agg(
        F.count("*").alias("n"), F.countDistinct("case_number").alias("d"), F.sum("case_number").alias("s")
    ).first()
    groups = {}
    for r in flagged.groupBy(F.col("cohort").isNotNull().alias("c"), "travel").agg(
        F.count("*").alias("n"), F.sum("case_number").alias("s")
    ).collect():
        groups[f"{'cohort' if r['c'] else 'other'}:{r['travel']}"] = (r["n"], r["s"])
    return {
        "refresh": {
            "florida_rows": pass_out["ingest_new_records"],
            "actual": series["actual"],
            "predicted": series["predicted"],
            "top5": top5,
        },
        "increments": {
            "rows": tot["n"],
            "distinct": tot["d"],
            "key_sum": tot["s"],
            "travel_groups": dict(sorted(groups.items())),
            "append_batches": len(pass_out["append"]),
            "merge_batches": len(pass_out["merge"]),
        },
    }


def check_daily(got: dict, exp: dict) -> list[tuple[str, str]]:
    """(operation, message) for every mismatch with the generator's
    expectation ``exp``; empty when correct."""
    errs, n_drops = [], exp["n_drops"]
    r, e = got["refresh"], exp["refresh"]
    if r["florida_rows"] != e["florida_rows"]:
        errs.append(("csv_ingest", f"florida rows {r['florida_rows']} != {e['florida_rows']}"))
    if [(d, float(c)) for d, c in r["actual"]] != e["actual"]:
        errs.append(("stats", "cumulative actual series differs"))
    if len(r["predicted"]) != len(e["predicted"]) or any(
        gd != ed or not math.isclose(gc, ec, rel_tol=1e-9)
        for (gd, gc), (ed, ec) in zip(r["predicted"], e["predicted"])
    ):
        errs.append(("stats", "predicted series differs"))
    if sorted(r["top5"]) != sorted(e["top5"]):
        errs.append(("county_stats", f"top-5 counties {sorted(r['top5'])} != {sorted(e['top5'])}"))
    else:
        for c, ev in e["top5"].items():
            gv = r["top5"][c]
            if (gv["rows"], gv["final_count"]) != (ev["rows"], ev["final_count"]) or not math.isclose(
                gv["final_per_capita"], ev["final_per_capita"], abs_tol=0.0051
            ):
                errs.append(("county_stats", f"{c}: {gv} != {ev}"))
    i, e = got["increments"], exp["increments"]
    if not (i["rows"] == i["distinct"] == e["rows"] and i["key_sum"] == e["key_sum"]):
        errs.append(("append", f"stored {i['rows']} rows / {i['distinct']} keys, expected {e['rows']} once each"))
    if i["append_batches"] != n_drops:
        errs.append(("append", f"{i['append_batches']} append batches for {n_drops} drops"))
    if i["merge_batches"] != n_drops:
        errs.append(("merge", f"{i['merge_batches']} merge batches for {n_drops} update files"))
    if i["travel_groups"] != e["travel_groups"]:
        errs.append(("merge", "travel status by cohort differs"))
    return errs


def daily_breakdown(spark, tr, inp: dict, store: str) -> dict:
    """Sub-layer spans of run_csv_ingest's composition, each output
    consumed by a noop write, plus the sink verbs timed against a noop
    write of the same input. Returns layer times in seconds."""
    florida = ParquetTable(spark, os.path.join(store, "florida_breakdown"))
    with tr.span("breakdown"):
        with tr.span("sources.read") as s_read:
            raw = file_sources.read_cases_csv(spark, inp["cases_csv"])
            noop(raw)
        with tr.span("ingest.normalize") as s_norm:
            cases = ingest.normalize_cases(raw)
            noop(cases)
        with tr.span("ingest.attach_location") as s_loc:
            located = ingest.attach_location(cases, file_sources.read_counties_json(spark, inp["counties_json"]))
            noop(located)
        with tr.span("sinks.overwrite") as s_over:
            florida.overwrite(located)
        growth = ParquetTable(spark, os.path.join(store, "florida_growth"))
        actual = growth.read().filter("series = 'actual'").localCheckpoint()
        with tr.span("sinks.replace_where_input") as s_rw_in:
            noop(actual)
        with tr.span("sinks.replace_where") as s_rw:
            growth.replace_where("series = 'actual'", actual)
    return {
        "sources.read_s": s_read.duration,
        "sources.rows": s_read.counters.get("input_records", 0),
        "sources.input_bytes": s_read.counters.get("input_bytes", 0),
        "ingest.normalize_s": s_norm.duration - s_read.duration,
        "ingest.attach_location_s": s_loc.duration - s_norm.duration,
        "sinks.overwrite_s": s_over.duration - s_loc.duration,
        "sinks.replace_where_s": s_rw.duration - s_rw_in.duration,
    }


def daily_layers(spark, out: dict, exp: dict) -> dict:
    """Per-layer metrics of one traced daily pass."""
    m = {}
    for name, s in out["stages"].items():
        m[f"pipelines.{name}_s"] = s.duration
        for k in ("jobs", "stages", "tasks"):
            m[f"pipelines.{name}.{k}"] = s.counters[k]
    m["pipelines.shuffle_write_bytes"] = sum(s.counters["shuffle_write_bytes"] for s in out["stages"].values())
    written = out["span"].counters["output_bytes"]
    files = written_files(spark, out["span"].job_ids, out["since_ms"])
    final = sum(_tree_bytes(os.path.join(out["store"], t)) for t in ("florida", "florida_growth", "florida_growth_rates", "top_five_counties"))
    m["sinks.bytes_written"] = written
    m["sinks.files_written"] = files
    m["sinks.write_amp"] = written / final if final else 0.0
    m["sinks.table_files"] = out["table_files_after_append"]
    arrived = sum(p["numInputRows"] for p in out["append"])
    appended = exp["increments"]["rows"] - exp["refresh"]["florida_rows"]
    m["incremental.rows_arrived"] = arrived
    m["incremental.rows_appended"] = appended
    m["incremental.useful_ratio"] = appended / arrived if arrived else 0.0
    m["incremental.rows_updated"] = exp["increments"]["rows_updated"]
    for q in ("append", "merge"):
        ps = out[q]
        trig = [p["durationMs"]["triggerExecution"] for p in ps]
        add = [p["durationMs"].get("addBatch", 0) for p in ps]
        m[f"streaming.{q}.batches"] = len(ps)
        m[f"streaming.{q}.trigger_ms_p50"] = p50(trig)
        m[f"streaming.{q}.add_batch_ms_p50"] = p50(add)
        m[f"streaming.{q}.overhead_ms_p50"] = p50([t - a for t, a in zip(trig, add)])
        m[f"streaming.{q}.jobs_per_batch"] = out[f"{q}_span"].counters["jobs"] / len(ps) if ps else 0.0
    return m


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def query_pass(spark, tr, sf_dir: str, results: dict | None = None) -> dict:
    """Build and materialize every query once. Returns the pass span and
    per query its build and materialize times and its span.

    With ``results`` each query is materialized by ``collect()`` and its
    rows kept there for checking, so the check needs no second
    execution; otherwise by a ``noop`` write."""
    from covid_19_fl_spark import suite

    out = {"queries": {}}
    with tr.span("pass") as out["pass"]:
        for name in QUERY_MIX:
            with tr.span(f"query.{name}") as q:
                with tr.span("suite.build") as b:
                    df = suite.QUERIES[name](spark, sf_dir)
                with tr.span("suite.materialize") as m:
                    if results is None:
                        noop(df)
                    else:
                        results[name] = (df.columns, df.collect())
            out["queries"][name] = {"build_s": b.duration, "materialize_s": m.duration, "span": q}
    return out


def count_pass(spark, sf_dir: str) -> dict:
    """Per-query build + ``count()`` time: the figure bench.py reports,
    recorded beside the full materialization to show the pruning gap."""
    from covid_19_fl_spark import suite

    out = {}
    for name in QUERY_MIX:
        t0 = time.perf_counter()
        suite.QUERIES[name](spark, sf_dir).count()
        out[name] = time.perf_counter() - t0
    return out


def _norm(v):
    from decimal import Decimal

    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_norm(x) for x in v)
    return v


def canonical_rows(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows normalized and sorted (order-insensitive)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def oracle_rows(sql: str, sf_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t + '.parquet', '*.parquet')}')")
        rel = con.sql(sql)
        return canonical_rows(rel.columns, rel.fetchall())
    finally:
        con.close()


def check_query(got: tuple, exp: tuple) -> str | None:
    """None when the Spark result equals the oracle's, else why not."""
    (gc, gr), (ec, er) = got, exp
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows != {len(er)}"
    bad = sum(1 for a, b in zip(gr, er) if a != b)
    return f"{bad} rows differ" if bad else None


def check_queries(results: dict, sf_dir: str, tables: list[str]) -> dict[str, str]:
    """{query: why} for every collected result that differs from its oracle."""
    from covid_19_fl_spark import suite

    errs = {}
    for name, (cols, rows) in results.items():
        why = check_query(canonical_rows(cols, rows), oracle_rows(suite.ORACLES[name], sf_dir, tables))
        if why:
            errs[name] = why
    return errs


def query_layers(qpass: dict, counts: dict) -> dict:
    """Per-layer metrics of one traced query pass."""
    m = {"suite.build_s": 0.0, "suite.materialize_s": 0.0}
    fam = {f: dict.fromkeys(("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_ms"), 0) for f in FAMILIES}
    for name, r in qpass["queries"].items():
        c = r["span"].counters
        m["suite.build_s"] += r["build_s"]
        m["suite.materialize_s"] += r["materialize_s"]
        m[f"query.{name}.s"] = r["build_s"] + r["materialize_s"]
        m[f"query.{name}.count_s"] = counts[name]
        m[f"query.{name}.jobs"] = c["jobs"]
        for k in fam[QUERY_MIX[name]]:
            fam[QUERY_MIX[name]][k] += c[k]
    for f, v in fam.items():
        for k, x in v.items():
            m[f"family.{f}.{k}"] = x
    return m
