"""The traced run: times calls into each layer's public functions and
charges the Spark work under each call to it (see lakebench.Tracer).

It is the same for every workload, so that each traced run reports every
per-layer metric: serve-side probes on the `ev` table before the stream
starts, a short ingest beside reads with the listener on, the ingest-side
and DML probes while the stream runs, then one pass over the batch entries
with planning forced before execution.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import harness
import run as bench
from harness import Results, pct

INGEST_SECONDS = 10
DML_WAVES = 3
DML_WAVE_ROWS = 500

LAYER_METRICS = {
    "api.point_overhead_ms": "ms", "api.query_overhead_ms": "ms", "api.jobs_per_request": "count",
    "table.lookup_key_ms": "ms", "table.read_point_ms": "ms", "table.read_point_nonkey_ms": "ms",
    "table.lookup_mor_ms": "ms",
    "connector.sql_point_ms": "ms", "connector.sql_point_jobs": "count",
    "connector.rows_scanned_per_row_returned": "ratio",
    "search.view_search_ms": "ms",
    "log.latest_ms": "ms", "log.snapshots_ms": "ms", "log.files": "count", "log.bytes": "B",
    "cdc.add_batch_ms": "ms", "cdc.trigger_ms": "ms", "cdc.planning_ms": "ms",
    "cdc.rows_per_batch": "rows", "cdc.backlog_files": "count",
    "dml.upsert_deferred_ms": "ms", "dml.compact_ms": "ms", "dml.upsert_ms": "ms",
    "dml.bytes_written_per_input_byte": "ratio",
}
SPARK = ["jobs", "tasks", "task_ms", "cpu_ms", "input_bytes", "shuffle_read_bytes",
         "shuffle_write_bytes", "output_bytes", "spill_bytes"]
SPARK_UNITS = {"jobs": "count", "tasks": "count", "task_ms": "ms", "cpu_ms": "ms"}
SELF_LAYERS = ["api", "table", "connector", "search", "log", "dml", "queries", "plans", "spark"]

UNITS = dict(LAYER_METRICS)
UNITS.update({f"queries.{e}_s": "s" for e in bench.BATCH_ENTRIES})
UNITS.update({f"plans.planning_ms.{e}": "ms" for e in bench.BATCH_ENTRIES})
UNITS.update({f"spark.{c}": SPARK_UNITS.get(c, "B") for c in SPARK})
UNITS.update({f"self_ms.{layer}": "ms" for layer in SELF_LAYERS})
UNITS.update({"jvm.gc_ms": "ms", "loadgen.late_ms": "ms", "trace.overhead_pct": "%"})


def dml_waves(model, data):
    """Parquet files of ev-shaped upserts to Zipf-skewed keys."""
    paths = []
    for i in range(DML_WAVES):
        keys = np.unique(model.hot.draw(model.rng, DML_WAVE_ROWS) + bench.COLD_KEYS)
        path = os.path.join(data, f"dml_wave{i}.parquet")
        pq.write_table(pa.table({
            "event_id": keys.astype(np.int64),
            "ts_us": np.full(len(keys), 1_800_000_000_000_000 + i, dtype=np.int64),
            "user_id": np.array([model.user[int(k)] for k in keys], dtype=np.int64),
            "event_type": np.full(len(keys), "view"),
            "value": np.round(keys % 1000 / 10.0 + i, 2),
            "props": np.full(len(keys), f'{{"dml": {i}}}')}), path)
        paths.append(path)
    return paths


def traced(run):
    model = bench.EvModel(run.data, run.args.seed, run.args.zipf)
    batch_data = os.path.join(run.data, "batch")
    datagen.generate(batch_data, run.args.seed, bench.BATCH_SF)
    waves = dml_waves(model, run.data)
    run.start_jvm()
    run.build_warehouse()
    r = model.read_rng

    def keys(n):
        return [int(k) + bench.COLD_KEYS for k in model.hot.draw(r, n)]

    def users(n):
        return [int(u) for u in r.integers(0, model.max_user + 1, size=n)]

    serve = run.jvm.call("probe_serve", warm_keys=keys(6), warm_users=users(6),
                         keys=keys(16), users=users(16))
    run.jvm.call("trace", on=True)
    lander = bench.Lander(run.work, model)
    fresh = bench.Freshness(run.port, lander)
    run.start_stream(lander)
    fresh.wait_for(lander.land(bench.WAVE_ROWS), 60)
    res = Results()
    late = bench.ingest_phase(run, model, lander, fresh, INGEST_SECONDS, res)
    ingest = run.jvm.call("probe_ingest", keys=list(model.recent[:10]), waves=waves,
                          base=os.path.join(run.data, "ev_base.parquet"))
    conn = harness.Http(run.port)
    run.check("cdc stop", conn.request("POST", "/cdc/ev/stop")[0] == 200)
    conn.close()
    batch = run.jvm.call("probe_batch", data=batch_data, entries=bench.BATCH_ENTRIES)
    rep = run.jvm.call("report")
    run.finish_jvm()
    run.summarize(res, "reads")
    failed = len(res.failed) + len(fresh.res.failed)

    on, off, jobs = serve["traced_ms"], serve["untraced_ms"], serve["jobs_per_call"]
    m = {
        "api.point_overhead_ms": on["api.http_point"] - on["table.read_point_key"],
        "api.query_overhead_ms": on["api.http_query"] - on["api.session_sql"],
        "api.jobs_per_request": (jobs["api.http_point"] + jobs["api.http_query"]) / 2,
        "table.lookup_key_ms": on["table.lookup_key"],
        "table.read_point_ms": on["table.read_point_key"],
        "table.read_point_nonkey_ms": on["table.read_point_nonkey"],
        "table.lookup_mor_ms": ingest["lookup_mor_ms"],
        "connector.sql_point_ms": on["connector.sql_point"],
        "connector.sql_point_jobs": jobs["connector.sql_point"],
        "connector.rows_scanned_per_row_returned":
            serve["connector_records_read"] / max(1, serve["connector_rows_returned"]),
        "search.view_search_ms": on["search.view_search"],
        "log.latest_ms": ingest["log_latest_ms"],
        "log.snapshots_ms": ingest["log_snapshots_ms"],
        "log.files": ingest["log_files"], "log.bytes": ingest["log_bytes"],
        "cdc.add_batch_ms": ingest["cdc_add_batch_ms"],
        "cdc.trigger_ms": ingest["cdc_trigger_ms"],
        "cdc.planning_ms": ingest["cdc_planning_ms"],
        "cdc.rows_per_batch": ingest["cdc_rows_per_batch"],
        "cdc.backlog_files": float(np.mean(fresh.backlog)) if fresh.backlog else 0.0,
        "dml.upsert_deferred_ms": ingest["upsert_deferred_ms"],
        "dml.compact_ms": ingest["compact_ms"],
        "dml.upsert_ms": ingest["upsert_ms"],
        "dml.bytes_written_per_input_byte": ingest["dml_output_bytes"] / ingest["dml_input_bytes"],
        "jvm.gc_ms": rep["gc_ms"],
        "loadgen.late_ms": pct(late, 50),
        "trace.overhead_pct": 100.0 * (sum(on.values()) - sum(off.values())) / sum(off.values()),
    }
    for e, v in batch["entries"].items():
        m[f"queries.{e}_s"] = v["s"]
        m[f"plans.planning_ms.{e}"] = v["planning_ms"]
    for c in SPARK:
        m[f"spark.{c}"] = rep["spark"][c]
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = rep["self_ms"].get(layer, 0.0)
    run.record.update(serve_probes=serve, ingest_probes=ingest, batch_probes=batch,
                      trace_report=rep, cdc_stream_spark=rep["stream"])
    named = {"trace_spans": rep["spans"],
             "freshness_p50_ms": pct([(fresh.visible[s] - t) * 1000.0
                                      for s, t in lander.snapshot().items()
                                      if s in fresh.visible], 50)}
    attempted = res.attempted + fresh.res.attempted + len(bench.BATCH_ENTRIES)
    return attempted, failed, named, m
