#!/usr/bin/env python3
"""Lakehouse benchmark: HTTP serving, CDC ingest beside reads and the
graded batch pass, plus a traced run that times each layer. See README.md
here.

Usage (from the root of a checkout):
  python3 lakebench/run.py --workload serve|ingest_serve|batch --seed N \
      --seconds S --trace 0|1 [--zipf 0.99]

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The lines before it list
the workload's named metrics; the full record of the run, including the
ambient-load brackets, goes to `.lakebench_work/last/<workload>.json`.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402
import harness  # noqa: E402
from harness import Op, Results, log, pct, q  # noqa: E402

SERVE_SF = 0.1            # events: 100k rows in the ev table
BATCH_SF = 0.01           # lineitem ~60k rows, documents 500
CONNECTIONS = 4           # load-generator connections (nproc = 4); one polls the clock row
READ_RPS = 0.75           # offered rate of the HTTP reads beside the ingest
SERVE_RPS = 3.0           # offered rate of the HTTP reads of the serve workload
HISTORY_ROWS = 500        # rows per upsert of the serve warehouse's snapshot history
WAVE_EVERY_S = 0.25       # one CDC file landed per interval
WAVE_ROWS = 100           # envelope rows per landed file
COLD_KEYS = 10_000        # ev keys below this are never written (exact aggregates)
CLOCK_KEY = 1_000_000_000  # ev row whose value is the number of the last wave
BATCH_ENTRIES = [
    "q1_pricing_summary", "q4_topk_orders", "q5_latest_per_user", "q8_semi_join",
    "q9_region_rollup", "t_timetravel", "s_keyword_rank", "t_upsert_bucketed",
    "c_cdc_batch", "x_dsir_topk", "x_lm_topk", "x_line_dedup", "x_quality"]
# One cycle of each read mix: fixed counts per kind, shuffled per seed, so
# every seed offers the same proportions.
READ_CYCLE = {"point_key": 4, "point_recent": 3, "point_user": 1, "sql_point": 2,
              "sql_agg": 1, "view_page": 1, "view_search": 1, "snapshots": 1, "diff": 1}
# Every serve kind equally often: the gated figure weighs each kind's
# median alike, and each median needs its own samples.
SERVE_CYCLE = {k: 2 for k in ("point_key", "point_user", "sql_point", "sql_agg",
                              "view_page", "view_search", "snapshots", "diff")}
# Between clock polls. Each poll is a /point on the ingesting table (~0.5 s);
# at a 0.3 s pause polling took enough of the four cores that freshness
# swung with the host's speed (spread 0.27 against 0.10, five runs each).
POLL_PAUSE_S = 0.6
WARM_CYCLES = 2           # untimed serve cycles before the timed reads

E2E_UNITS = {"setup_s": "s", "latency_ms": "ms", "live_heap_mb": "MB"}
NAMED_UNITS = {"serve_p50_ms": "ms", "serve_p75_ms": "ms", "serve_p90_ms": "ms", "serve_p99_ms": "ms",
               "freshness_p50_ms": "ms", "freshness_p90_ms": "ms", "ingest_rows_per_s": "rows/s",
               "stored_bytes_per_row": "B/row",
               "batch_s": "s", "cold_pass_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio"}


# ------------------------------------------------------- model of `ev`

class EvModel:
    """The `ev` table as the history upserts and the CDC waves leave it:
    key -> value, plus every value each key has held, since a read racing
    a wave may see any of them. Generates the upserts, waves and read mix,
    and checks each answer."""

    def __init__(self, data, seed, zipf):
        ev = datagen.generate_ev(data, seed, SERVE_SF)
        self.rng = np.random.default_rng(seed + 11)
        self.read_rng = np.random.default_rng(seed + 13)
        ids = ev["event_id"]
        self.n_base = len(ids)
        self.hot = datagen.Zipf(self.rng, self.n_base - COLD_KEYS, zipf)
        self.user = dict(zip(ids.tolist(), ev["user_id"].tolist()))
        self.value = dict(zip(ids.tolist(), ev["value"].tolist()))
        self.base_value = ev["value"]
        self.history = {}
        self.deleted = set()
        self.next_id = self.n_base
        self.seq = 0
        self.recent = []
        self.touched = {CLOCK_KEY}
        self.max_user = int(ev["user_id"].max())

    # ---- writes

    def wave(self, rows):
        """Envelope lines of the next wave: updates to Zipf-skewed keys (a
        key drawn twice is updated once), inserts, deletes of uniformly
        drawn live keys, and the clock row set to the wave's number."""
        self.seq += 1
        seq = self.seq
        n_upd, n_ins = int(rows * 0.8), int(rows * 0.1)
        n_del = rows - n_upd - n_ins
        drawn = self.hot.draw(self.rng, n_upd) + COLD_KEYS
        upd = list(dict.fromkeys(int(k) for k in drawn if int(k) in self.value))
        drawn = self.rng.integers(COLD_KEYS, self.n_base, size=2 * n_del)
        skip = set(upd)
        dele = [k for k in dict.fromkeys(int(k) for k in drawn)
                if k in self.value and k not in skip][:n_del]
        ins = list(range(self.next_id, self.next_id + n_ins))
        self.next_id += n_ins
        ts0 = 1_700_000_000_000 + seq * 10_000
        lines = []

        def img(k, v):
            user = self.user.setdefault(k, k % (self.max_user + 1))
            return {"event_id": k, "ts_us": ts0 * 1000, "user_id": user,
                    "event_type": "view", "value": v, "props": f'{{"w": {seq}}}'}

        def emit(op, before, after):
            lines.append({"payload": {"before": before, "after": after, "op": op,
                                      "ts_ms": ts0 + len(lines)}})

        for k in upd + ins:
            v = round(seq + (k % 997) / 1000.0, 2)
            if k in self.value:
                self.history.setdefault(k, set()).add(self.value[k])
            emit("u" if k in self.value else "c", None, img(k, v))
            self.value[k] = v
        for k in dele:
            self.history.setdefault(k, set()).add(self.value.pop(k))
            self.deleted.add(k)
            emit("d", {"event_id": k}, None)
        if CLOCK_KEY in self.value:
            self.history.setdefault(CLOCK_KEY, set()).add(self.value[CLOCK_KEY])
        emit("u" if CLOCK_KEY in self.value else "c", None, img(CLOCK_KEY, float(seq)))
        self.value[CLOCK_KEY] = float(seq)
        self.touched.update(upd, ins, dele)
        self.recent = (upd[:5] + ins[:5] + self.recent)[:50]
        return seq, "".join(json.dumps(x) + "\n" for x in lines), len(lines)

    def checksum(self):
        return sum(k * 1000003 + int(round(v * 100)) for k, v in self.value.items())

    # ---- reads

    def consistent(self, row):
        k, v = row["event_id"], row["value"]
        return v == self.value.get(k) or v in self.history.get(k, ())

    def history_upserts(self, data):
        """Two upserts of Zipf-skewed keys for the serve warehouse's snapshot
        history, as parquet files; the model takes their values."""
        paths = []
        for i in range(2):
            keys = np.unique(self.hot.draw(self.rng, HISTORY_ROWS) + COLD_KEYS)
            vals = np.round(keys % 1000 / 10.0 + 1000 * (i + 1), 2)
            path = os.path.join(data, f"ev_update{i}.parquet")
            pq.write_table(pa.table({
                "event_id": keys.astype(np.int64),
                "ts_us": np.full(len(keys), 1_800_000_000_000_000 + i, dtype=np.int64),
                "user_id": np.array([self.user[int(k)] for k in keys], dtype=np.int64),
                "event_type": np.full(len(keys), "view"), "value": vals,
                "props": np.full(len(keys), f'{{"u": {i}}}')}), path)
            self.value.update(zip(keys.tolist(), vals.tolist()))
            self.touched.update(keys.tolist())
            paths.append(path)
        return paths

    def read_ops(self, cycles, cycle=READ_CYCLE):
        """`cycles` shuffled copies of a read cycle, keys drawn per seed."""
        kinds = [k for k, n in cycle.items() for _ in range(n)]
        ops = []
        for _ in range(cycles):
            for kind in self.read_rng.permutation(kinds):
                ops.append(RecentRead(self) if kind == "point_recent" else self.read_op(str(kind)))
        return ops

    def read_op(self, kind):
        r = self.read_rng
        k = int(self.hot.draw(r, 1)[0]) + COLD_KEYS
        u = int(r.integers(0, self.max_user + 1))
        if kind == "point_key":
            return Op(kind, f"/point/ev?col=event_id&value={k}", self.key_check(k))
        if kind == "sql_point":
            return Op(kind, "/query?query=" + q(
                f"SELECT event_id, value FROM lake.ev WHERE event_id = {k}"), self.key_check(k))
        if kind == "point_user":
            return Op(kind, f"/point/ev?col=user_id&value={u}", self.user_check(u, None))
        if kind == "view_search":
            return Op(kind, f"/view/ev?search={u}&page_size=20", self.user_check(u, 20))
        if kind == "view_page":
            # The dashboard orders by the id-like column (user_id here), newest first.
            return Op(kind, "/view/ev?page_size=20", self.user_check(self.max_user, 20))
        if kind == "sql_agg":
            a = int(r.integers(0, COLD_KEYS - 100))
            vals = self.base_value[a:a + 100]
            n, s = len(vals), float(vals.sum())

            def check(body):
                got = body["rows"][0]
                ok = got["n"] == n and abs(got["s"] - s) <= 1e-6 * max(1.0, s)
                return None if ok else f"keys {a}..{a + 99}: expected ({n}, {s}), got {got}"
            return Op(kind, "/query?query=" + q(
                "SELECT count(*) AS n, sum(value) AS s FROM lake.ev "
                f"WHERE event_id BETWEEN {a} AND {a + 99}"), check)
        if kind == "snapshots":
            def check(body):
                ids = [x["snapshot_id"] for x in body["rows"]]
                ok = ids and all(x > y for x, y in zip(ids, ids[1:]))
                return None if ok else f"snapshot ids not newest-first: {ids[:5]}"
            return Op(kind, "/snapshots/ev", check)
        if kind == "diff":
            def check(body):
                bad = [x for x in body["rows"] if x["change_type"] != "UNCHANGED"
                       and x["event_id"] not in self.touched]
                return None if not bad else f"diff reports unwritten keys: {bad[:3]}"
            return Op(kind, "/diff/ev", check)
        raise ValueError(kind)

    def key_check(self, k):
        def check(body):
            rows = body["rows"]
            if not rows:
                # Inserted keys may not be visible yet; deleted keys are gone.
                # A base key no wave deleted must be present.
                return None if k >= self.n_base or k in self.deleted else f"ev {k} missing"
            if len(rows) == 1 and rows[0]["event_id"] == k and self.consistent(rows[0]):
                return None
            return f"ev {k}: unexpected {rows[:2]}"
        return check

    def user_check(self, u, limit):
        def check(body):
            rows = body["rows"]
            if limit is not None and len(rows) != limit:
                return f"user {u}: {len(rows)} rows, expected {limit}"
            bad = [x for x in rows if x["user_id"] != u or not self.consistent(x)]
            return None if not bad else f"user {u}: unexpected rows {bad[:2]}"
        return check

    def recent_read(self):
        """A /point read of a recently written key, drawn when it is sent."""
        recent = self.recent
        k = recent[int(self.read_rng.integers(0, len(recent)))] if recent else COLD_KEYS
        return Op("point_recent", f"/point/ev?col=event_id&value={k}", self.key_check(k))


class RecentRead:
    """Resolved to a read of a recently written key when it is sent."""
    kind = "point_recent"

    def __init__(self, model):
        self.model = model

    def resolve(self):
        return self.model.recent_read()


class Lander:
    """Lands CDC envelope files in the stream's input directory by atomic
    rename, on a fixed schedule, and records each wave's landing time."""

    def __init__(self, work, model):
        self.model = model
        self.stage = os.path.join(work, "cdc_stage")
        self.inbox = os.path.join(work, "cdc_in")
        os.makedirs(self.stage)
        os.makedirs(self.inbox)
        self.lock = threading.Lock()
        self.landed = {}     # wave -> landing time
        self.rows = {}       # wave -> envelope rows
        self.late = []       # ms each scheduled landing ran behind

    def land(self, rows):
        with self.lock:
            seq, text, n = self.model.wave(rows)
        src = os.path.join(self.stage, f"wave-{seq:06d}.json")
        with open(src, "w") as fh:
            fh.write(text)
        t = time.perf_counter()
        os.rename(src, os.path.join(self.inbox, f"wave-{seq:06d}.json"))
        with self.lock:
            self.landed[seq] = t
            self.rows[seq] = n
        return seq

    def snapshot(self):
        with self.lock:
            return dict(self.landed)

    def schedule(self, seconds, stop):
        t0 = time.perf_counter()
        for i in range(int(seconds / WAVE_EVERY_S)):
            due = t0 + i * WAVE_EVERY_S
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self.late.append(max(0.0, time.perf_counter() - due) * 1000.0)
            self.land(WAVE_ROWS)
        stop.set()


class Freshness:
    """Polls the clock row through /point. The first response that shows
    wave w or later makes every wave up to w visible at that moment."""

    def __init__(self, port, lander):
        self.port, self.lander = port, lander
        self.res = Results()
        self.visible = {}    # wave -> time first seen
        self.backlog = []    # waves landed but not yet visible, per poll

    def poll_once(self, conn):
        t = time.perf_counter()
        status, body = conn.get_json(f"/point/ev?col=event_id&value={CLOCK_KEY}")
        done = time.perf_counter()
        if status == 200 and not body["rows"] and not self.visible:
            return 0  # the clock row's first wave is not visible yet
        ok = status == 200 and len(body["rows"]) == 1
        self.res.add("point_clock", (done - t) * 1000.0, None if ok else f"clock read {body!r}")
        if not ok:
            return 0
        w = int(body["rows"][0]["value"])
        landed = self.lander.snapshot()
        for seq in landed:
            if seq <= w and seq not in self.visible:
                self.visible[seq] = done
        self.backlog.append(sum(1 for s in landed if s not in self.visible))
        return w

    def run(self, stop):
        conn = harness.Http(self.port)
        while not stop.is_set():
            self.poll_once(conn)
            time.sleep(POLL_PAUSE_S)
        conn.close()

    def wait_for(self, seq, timeout):
        conn = harness.Http(self.port)
        end = time.perf_counter() + timeout
        while time.perf_counter() < end and self.poll_once(conn) < seq:
            time.sleep(POLL_PAUSE_S)
        conn.close()
        return self.visible.get(seq)


# ----------------------------------------------------------- workloads

class Run:
    def __init__(self, args):
        self.args = args
        self.root = os.getcwd()
        self.work = os.path.join(self.root, ".lakebench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.data = os.path.join(self.work, "data")
        self.record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                       "trace": args.trace, "zipf": args.zipf}
        self.checks = []      # (name, passed, detail)
        self.jvm = None
        self.port = None

    def check(self, name, ok, detail=""):
        self.checks.append((name, bool(ok), detail))
        if not ok:
            log(f"check failed: {name}: {detail}")

    def start_jvm(self):
        self.jvm = harness.Jvm(self.work)
        self.record["session_s"] = self.jvm.session_s
        self.record["calib_ms_before"] = self.jvm.call("calib")["calib_ms"]

    def finish_jvm(self):
        """Close the load bracket, read GC time, peak RSS and the live heap,
        stop the JVM; returns the live heap in MB."""
        self.record["calib_ms_after"] = self.jvm.call("calib")["calib_ms"]
        r = self.jvm.call("jvm")
        self.record["jvm_gc_ms"] = r["gc_ms"]
        self.record["peak_rss_mb"] = self.jvm.peak_rss_mb()
        self.jvm.close()
        return r["live_heap_mb"]

    def build_warehouse(self, updates=()):
        """Build the warehouse and start the server in the fresh JVM; the
        set-up time is the JVM's start-to-session time plus this cold build."""
        r = self.jvm.call("build", data=self.data, updates=list(updates))
        self.port = r["port"]
        self.record["build_s"] = r["build_s"]
        self.record["build_steps_ms"] = r["build_steps_ms"]
        return self.jvm.session_s + r["build_s"]

    def start_stream(self, lander):
        conn = harness.Http(self.port)
        t0 = time.perf_counter()
        status, body = conn.request(
            "POST", f"/cdc/ev/start?dir={q(lander.inbox)}&key=event_id&mode=mor&trigger_ms=200")
        conn.close()
        self.check("cdc stream start", status == 200, body[:200])
        return time.perf_counter() - t0

    def warm(self, ops):
        """Untimed requests so JIT, footer caches and plan caches are warm."""
        conn = harness.Http(self.port)
        for op in ops:
            err = harness.execute(conn, op)
            if err:
                self.check(f"warm-up {op.kind}", False, err)
        conn.close()

    def summarize(self, res, name):
        """Record the results of one set of requests; returns the median
        latency of each request kind."""
        by_kind = {}
        for kind, ms in res.lat:
            by_kind.setdefault(kind, []).append(ms)
        lat = [m for _, m in res.lat]
        per_kind = {k: pct(v, 50) for k, v in sorted(by_kind.items())}
        self.record[name] = {
            "attempted": res.attempted, "failed": len(res.failed), "failures": res.failed[:10],
            "p50_ms": pct(lat, 50), "p90_ms": pct(lat, 90), "p99_ms": pct(lat, 99),
            "per_kind_p50_ms": per_kind}
        for kind, err in res.failed[:3]:
            log(f"{name}: failed {kind}: {err}")
        return per_kind


def serve(run):
    """Read-only HTTP traffic at a fixed rate against a warehouse with a
    short snapshot history; no stream runs."""
    model = EvModel(run.data, run.args.seed, run.args.zipf)
    updates = model.history_upserts(run.data)
    run.start_jvm()
    setup_s = run.build_warehouse(updates)
    run.warm(model.read_ops(WARM_CYCLES, SERVE_CYCLE))
    cycle = sum(SERVE_CYCLE.values())
    cycles = max(1, round(SERVE_RPS * run.args.seconds / cycle))
    res = Results()
    late = harness.open_loop(run.port, model.read_ops(cycles, SERVE_CYCLE),
                             cycles * cycle / run.args.seconds, run.args.seconds,
                             CONNECTIONS, res)
    heap = run.finish_jvm()
    per_kind = run.summarize(res, "reads")
    lat = [m for _, m in res.lat]
    named = {"serve_p50_ms": pct(lat, 50), "serve_p75_ms": pct(lat, 75),
             "serve_p90_ms": pct(lat, 90), "serve_p99_ms": pct(lat, 99),
             "peak_rss_mb": run.record["peak_rss_mb"]}
    named.update({f"serve_{k}_p50_ms": v for k, v in per_kind.items()})
    run.record.update(named, read_count=len(lat), read_ms=lat, loadgen_late_ms_p50=pct(late, 50))
    # Each kind's median weighs alike: halving any one kind's latency
    # lowers the figure by the same share.
    kinds_ms = math.exp(statistics.fmean(math.log(v) for v in per_kind.values()))
    return res.attempted, len(res.failed), named, {
        "setup_s": setup_s, "latency_ms": kinds_ms, "live_heap_mb": heap}


def ingest_phase(run, model, lander, fresh, seconds, res):
    """Land waves on schedule for `seconds` while the read mix runs at a
    fixed rate; returns how late, in ms, the generators ran."""
    stop = threading.Event()
    threads = [threading.Thread(target=lander.schedule, args=(seconds, stop)),
               threading.Thread(target=fresh.run, args=(stop,))]
    for t in threads:
        t.start()
    # Whole cycles only, so every run offers the same mix of kinds.
    cycle = sum(READ_CYCLE.values())
    cycles = max(1, round(READ_RPS * seconds / cycle))
    late = harness.open_loop(run.port, model.read_ops(cycles), cycles * cycle / seconds,
                             seconds, CONNECTIONS - 1, res)
    for t in threads:
        t.join()
    return late + lander.late


def ingest_serve(run):
    model = EvModel(run.data, run.args.seed, run.args.zipf)
    run.start_jvm()
    setup_s = run.build_warehouse()
    lander = Lander(run.work, model)
    fresh = Freshness(run.port, lander)
    setup_s += run.start_stream(lander)
    # The first wave inserts the clock row; the timed waves start after it.
    fresh.wait_for(lander.land(WAVE_ROWS), 60)
    run.warm([model.read_op(k) for k in ("point_key", "sql_point", "view_search", "diff")])
    first = model.seq + 1
    res = Results()
    t_start = time.perf_counter()
    late = ingest_phase(run, model, lander, fresh, run.args.seconds, res)
    waves = sorted(s for s in lander.snapshot() if s >= first)
    fresh.wait_for(waves[-1], 60)
    conn = harness.Http(run.port)
    status, _ = conn.request("POST", "/cdc/ev/drain")
    t_end = time.perf_counter()
    run.check("cdc drain", status == 200)
    status, _ = conn.request("POST", "/cdc/ev/stop")
    conn.close()
    run.check("cdc stop", status == 200)
    chk = run.jvm.call("ev_check")
    rows_ok = chk["rows"] == len(model.value)
    sum_ok = chk["checksum"] == model.checksum()
    run.check("ev row count", rows_ok, f"{chk['rows']} vs {len(model.value)}")
    run.check("ev checksum", sum_ok, f"{chk['checksum']} vs {model.checksum()}")
    heap = run.finish_jvm()
    fr = [(fresh.visible[s] - lander.landed[s]) * 1000.0 for s in waves if s in fresh.visible]
    missing = len(waves) - len(fr)
    run.check("every wave visible", missing == 0, f"{missing} waves never seen")
    run.summarize(res, "reads")
    run.summarize(fresh.res, "clock_reads")
    lat = [m for _, m in res.lat]
    committed = sum(lander.rows[s] for s in waves)
    named = {
        "serve_p50_ms": pct(lat, 50), "serve_p75_ms": pct(lat, 75), "serve_p90_ms": pct(lat, 90),
        "serve_p99_ms": pct(lat, 99),
        "freshness_p50_ms": pct(fr, 50), "freshness_p90_ms": pct(fr, 90),
        "ingest_rows_per_s": committed / (t_end - t_start),
        "stored_bytes_per_row": chk["table_bytes"] / max(1, chk["rows"]),
        "peak_rss_mb": run.record["peak_rss_mb"]}
    run.record.update(named, waves=len(waves), read_count=len(lat), table_files=chk["table_files"],
                      freshness_ms=fr, read_ms=lat,
                      backlog_waves_mean=float(np.mean(fresh.backlog)),
                      loadgen_late_ms_p50=pct(late, 50))
    attempted = res.attempted + fresh.res.attempted + len(waves) + 2
    failed = len(res.failed) + len(fresh.res.failed) + missing + (not rows_ok) + (not sum_ok)
    return attempted, failed, named, {
        "setup_s": setup_s, "latency_ms": pct(fr, 50), "live_heap_mb": heap}


def oracle_check(run, out, oracle):
    """Check each entry's written result against its DuckDB oracle;
    returns the number of entries that differ."""
    import oracle as exact
    diffs = exact.check_results(run.data, out, {e: oracle[e] for e in BATCH_ENTRIES})
    for entry, diff in diffs.items():
        run.check(f"oracle {entry}", diff is None, diff or "")
    return sum(d is not None for d in diffs.values())


def batch(run):
    datagen.generate(run.data, run.args.seed, BATCH_SF)
    run.start_jvm()
    setup_s = run.jvm.session_s
    out = os.path.join(run.work, "results")
    r = run.jvm.call("batch", data=run.data, out=out, entries=BATCH_ENTRIES,
                     seconds=run.args.seconds)
    heap = run.finish_jvm()
    bad = oracle_check(run, out, r["oracle"])
    passes = [sum(s for _, s in p) for p in r["warm"]]
    # Each entry's faster warm execution: a co-tenant burst on this shared
    # box only ever adds time, and it should not decide the figure.
    best = {n: min(dict(p)[n] for p in r["warm"]) * 1000.0 for n in BATCH_ENTRIES}
    named = {"batch_s": statistics.median(passes), "cold_pass_s": sum(s for _, s in r["cold"]),
             "peak_rss_mb": run.record["peak_rss_mb"]}
    run.record.update(named, warm_passes=passes, cold_entry_s=dict(r["cold"]), warm_entry_ms=best)
    attempted = len(BATCH_ENTRIES) * (1 + len(r["warm"]))
    return attempted, bad, named, {
        "setup_s": setup_s, "latency_ms": pct(list(best.values()), 50), "live_heap_mb": heap}


def execute(args):
    """Run one workload; returns the result object, the named metrics and
    the run record."""
    root = os.getcwd()
    harness.ensure_built(root)
    run = Run(args)
    try:
        if args.trace:
            import trace_run
            attempted, failed, named, metrics = trace_run.traced(run)
            units = trace_run.UNITS
        else:
            workload = {"serve": serve, "ingest_serve": ingest_serve, "batch": batch}
            attempted, failed, named, metrics = workload[args.workload](run)
            units = E2E_UNITS
    finally:
        if run.jvm is not None and run.jvm.proc.poll() is None:
            run.jvm.proc.kill()
            run.jvm.proc.wait()
    correct = failed == 0 and all(ok for _, ok, _ in run.checks)
    named["failed_frac"] = failed / max(1, attempted)
    result = {"correct": correct, "attempted": int(attempted), "failed": int(failed),
              "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}}
    run.record.update(checks=run.checks, named=named, result=result)
    last = os.path.join(root, ".lakebench_work", "last")
    os.makedirs(last, exist_ok=True)
    name = f"{args.workload}{'-trace' if args.trace else ''}"
    with open(os.path.join(last, name + ".json"), "w") as fh:
        json.dump(run.record, fh, indent=1, default=str)
    if args.trace:
        shutil.copy(os.path.join(run.work, "spans.json"), os.path.join(last, name + "-spans.json"))
    shutil.rmtree(run.work, ignore_errors=True)
    return result, named, run.record


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest_serve", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--zipf", type=float, default=0.99, help="key-popularity skew")
    return ap.parse_args(argv)


def main():
    result, named, _ = execute(parse_args())
    for k, v in named.items():
        unit = NAMED_UNITS.get(k, "ms" if k.endswith("_ms") else "")
        print(f"{k:28s} {v if v is None else round(v, 4)} {unit}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
