"""The benchmark's workloads, run against the engine's public API.

Each workload materializes its inputs to parquet from the seed before
any timing, warms up at full size, then times a fixed amount of work,
so every run measures the same calls. Every ingest, scan and lookup
result is checked against the pandas oracle (``oracle.py``); a mismatch
is a failed operation.

- ``replay_cow``: bulk catch-up into a fresh copy-on-write table.
- ``tail_fanout``: a closed loop of small two-table Debezium batches
  through ``fan_out_atomic``, with point lookups after every batch.
"""

from __future__ import annotations

import os
import random
import time

import pyspark.sql.functions as F

import harness
import oracle

FIELDS = ["repo", "path", "lang", "content"]
NUM_BUCKETS = 32

# bulk replay: bench.py's cdc_replay shape (500 repos x 5000 paths,
# 15% of events on one hot repo, 5% planted defects), scaled down so a
# run with its warm-up fits in about a minute on 4 CPUs. There a warm
# replay costs about 2.6 s whatever its size (its Spark jobs and
# commits) plus about 52 us per event, so at this size the per-call
# cost is about 60% of each call
REPLAY_EVENTS = 30_000
REPLAY_GEN = {"n_repos": 500, "n_paths": 5000, "hot_frac": 0.15, "dirty_frac": 0.05}
REPLAY_BATCHES = 4

# tail: per table, a key space of 10 repos x 200 paths that the pre-load
# mostly fills, then batches of TAIL_BATCH events (mostly updates)
TAIL_KEYS = {"n_repos": 10, "n_paths": 200, "hot_frac": 0.15, "dirty_frac": 0.05}
TAIL_TABLES = ("repos", "users")
TAIL_PRELOAD = 5_000
TAIL_BATCH = 1_000
RESEND_EVERY = 4  # every 4th step re-sends the previous batch


def is_resend(step: int) -> bool:
    return step % RESEND_EVERY == RESEND_EVERY - 1


# full-size warm-up: the first unit pays the JIT's compiles (the JVM
# runs C1 only, see harness.start_spark; on the tail, the first step
# after the pre-load ran about a quarter slower than later ones). Each
# run then times a fixed amount of work, the same whatever the host's
# speed: TIMED_REPLAYS replays, or the tail steps after the warm-up one
# (4 new batches and 1 re-send)
WARM_REPLAYS = 1
TIMED_REPLAYS = 3
TAIL_WARM_STEPS = 1
TAIL_STEPS = 6
TAIL_MAX_BATCHES = sum(not is_resend(i) for i in range(TAIL_STEPS))
EVENTS_PER_COMMIT = 100  # gen_events' default
TAIL_START = TAIL_PRELOAD // EVENTS_PER_COMMIT + 1  # first tail commit
TAIL_BATCH_COMMITS = TAIL_BATCH // EVENTS_PER_COMMIT

LOOKUPS_PER_REPLAY = 9
SCANS = 2  # full reads of each scanned table

# a tail bucket compacts once it holds this many delta files: with the
# pre-load's delta and the warm-up batch, the third timed new batch
# compacts, so every run's timed steps hold exactly one compaction, and
# the scan after them reads one delta per bucket
TAIL_COMPACT_AFTER = 5


def seq_expr(source):
    return source["pos"].cast("long")  # to_debezium writes event_seq as pos


class Ops:
    """Operations attempted and failed, with the reason for each failure."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    @property
    def failed(self) -> int:
        return len(self.failures)


class Run:
    """One benchmark run: session, tracer, scratch, seed and phase times."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.ops = Ops()
        self.setup_s = 0.0
        self.phases: dict[str, float] = {}  # wall seconds per phase of the run
        self._mark = time.perf_counter()
        self._n = 0

    def phase(self, name: str) -> None:
        """Close the current phase of the run under ``name``."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._mark
        self._mark = now

    def fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def materialize(self, df, name: str, partition_by: str | None = None) -> str:
        """Write ``df`` to parquet under the run's scratch: 8 files, or
        one file per value of ``partition_by``."""
        path = self.fresh(os.path.join("inputs", name))
        if partition_by:
            df.repartition(partition_by).write.partitionBy(partition_by).parquet(path)
        else:
            df.repartition(8).write.parquet(path)
        return path


# -- program calls -----------------------------------------------------------

def new_engine(spark, root: str, **engine_kw):
    from filters_spark.engine.cdc import CDCEngine
    from filters_spark.engine.defaults import default_registry
    from filters_spark.lake.table import LakeTable

    table = LakeTable.create(
        spark, root, key_cols=["repo", "path"], num_buckets=NUM_BUCKETS
    )
    return CDCEngine(spark, table, default_registry(), **engine_kw)


def scan(table) -> tuple[float, dict]:
    """A full read with order-independent aggregates: a hash over every
    column, the oracle-comparable fingerprint (``oracle.fingerprint``)
    and the rows whose ``content_sha`` is not the sha256 of their
    content. Returns (seconds, aggregates)."""
    t = time.perf_counter()
    df = table.read()
    row = F.sha2(F.concat_ws("\t", "repo", "path", "content_sha"), 256)
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("all_columns"),
        F.sum(F.conv(F.substring(row, 1, 15), 16, 10).cast("decimal(38,0)")).alias("state"),
        F.sum((F.sha2("content", 256) != F.col("content_sha")).cast("int")).alias("bad_sha"),
    ).collect()[0]
    return time.perf_counter() - t, {k: str(v) for k, v in r.asDict().items()}


def scans(run: Run, table, where: str) -> tuple[list, dict]:
    """SCANS full reads of ``table``, which must all agree; returns their
    seconds and the aggregates."""
    times, fps = [], []
    for _ in range(SCANS):
        with run.tracer.span("lake.table.read"):
            dt, fp = scan(table)
        times.append(dt)
        fps.append(fp)
    run.ops.check(all(fp == fps[0] for fp in fps), f"{where}: scans differ: {fps}")
    return times, fps[0]


def lookup(table, key) -> tuple[float, list]:
    t = time.perf_counter()
    df = table.lookup(*key)
    rows = [] if df is None else [r[0] for r in df.select("content_sha").collect()]
    return time.perf_counter() - t, rows


def data_bytes(table) -> tuple[int, int]:
    """(files, bytes) of every data file ever written under the table's
    data directory, live or superseded."""
    n = b = 0
    for d, _, fs in os.walk(os.path.join(table.root, "data")):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    return n, b


def table_layer(table) -> dict:
    """Lake-table metadata after ingest: metadata read time, snapshot
    and delta-file counts, and the bytes the live snapshot references."""
    ts = []
    for _ in range(5):
        t = time.perf_counter()
        snap = table.current()
        ts.append(time.perf_counter() - t)
    files = table.files()
    n, written = data_bytes(table)
    live = sum(f["size_bytes"] for f in files)
    return {
        "lake.table.current_s": harness.median(ts),
        "lake.table.snapshots": len(table.snapshots()),
        "lake.table.delta_files": sum(len(v) for v in snap.get("deltas", {}).values()),
        "lake.table.data_files": n,
        "lake.table.bytes_written": written,
        "lake.table.live_bytes": live,
        "lake.table.live_ratio": live / written if written else 0.0,
    }


def check_counts(ops: Ops, metrics: list[dict], where: str) -> None:
    for i, m in enumerate(metrics):
        ops.check(
            m["applied"] + m["dead_lettered"] + m["skipped_replays"] == m["events_in"],
            f"{where} batch {i}: applied+dead+skipped != events_in ({m})",
        )


def check_dead_letters(ops: Ops, engine, raw_want: int, oracle_dead: int, where: str):
    """The raw dead-letter table holds ``raw_want`` rows and the deduped
    read as many as the oracle dead-letters. A delivery that reports
    dead letters adopts its batch's whole dead-letter set; a re-sent
    batch's set repeats rows already there, which the deduped read
    drops."""
    raw, dedup = engine.dead_letters(distinct=False), engine.dead_letters()
    n_raw = 0 if raw is None else raw.count()
    n = 0 if dedup is None else dedup.count()
    ops.check(n_raw == raw_want,
              f"{where}: {n_raw} in dead_letters(distinct=False), expected {raw_want}")
    ops.check(n == oracle_dead, f"{where}: {n} in dead_letters(), oracle {oracle_dead}")


def check_table(ops: Ops, replay: oracle.Replay, fp: dict, where: str):
    want = {"rows": str(len(replay.state)), "state": replay.fingerprint(), "bad_sha": "0"}
    got = {k: fp[k] for k in want}
    ops.check(got == want, f"{where}: scan {got}, oracle {want}")


def lookup_keys(state: dict, rng: random.Random, n: int) -> tuple[list, list]:
    keys = sorted(state)
    hot = [k for k in keys if k[0] == "repo-00000"]
    cold = [k for k in keys if k[0] != "repo-00000"]
    rng.shuffle(hot)
    rng.shuffle(cold)
    return hot[:n], cold[:n]


ABSENT = ("repo-99999", "src/absent/0.py")


# -- layer probes (traced runs) ----------------------------------------------

def layer_probes(run: Run, events, envelopes) -> dict:
    """Time the parse and validate layers alone over this workload's
    inputs, each into a noop sink (median of three)."""
    from filters_spark.engine.defaults import FIELD_SPECS_V1
    from filters_spark.operators.validate import validate
    from filters_spark.sources.debezium import parse_debezium

    def timed(df, name):
        ts = []
        for _ in range(3):
            with run.tracer.span(name, jobs=True):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t)
        return harness.median(ts)

    parsed = parse_debezium(envelopes, FIELDS, seq_expr=seq_expr)
    validated = validate(events.select(*FIELDS), FIELD_SPECS_V1)
    return {
        "sources.debezium.parse_s": timed(parsed, "sources.debezium.parse_debezium"),
        "sources.debezium.events_out": parsed.count(),
        "operators.validate.s": timed(validated, "operators.validate.validate"),
        "operators.validate.error_rows": validated.filter(F.size("_errors") > 0).count(),
    }


def engine_layer(spans: list[dict], metrics: list[dict]) -> dict:
    """Per-call Spark counts from the traced ingest spans, and the
    engine's own per-batch counts."""
    out = {}
    for k in ("spark_jobs", "spark_stages", "spark_tasks"):
        out[f"engine.{k}_per_call"] = harness.median([s[k] for s in spans])
    out["engine.failed_tasks"] = sum(s["failed_tasks"] for s in spans)
    secs = [m["seconds"] for m in metrics]
    out["engine.cdc.batch_s"] = harness.median(secs)
    out["engine.cdc.batch_max_s"] = max(secs)
    for k in ("events_in", "applied", "dead_lettered", "skipped_replays", "touched_buckets"):
        out[f"engine.cdc.{k}"] = sum(m.get(k, 0) for m in metrics)
    out["engine.cdc.applied_ratio"] = out["engine.cdc.applied"] / out["engine.cdc.events_in"]
    return out


# -- input pins ----------------------------------------------------------------

CANARY_EVENTS = 1_000


def canary(spark, workload: str | None = None) -> dict:
    """Checksums of small seed-0 samples of the generator set-ups a
    workload uses (all workloads' when ``workload`` is None), Debezium
    envelopes included. A change to the bytes the generators emit
    changes one of them, whatever a run's seed."""
    from filters_spark.sources.datagen import gen_events
    from filters_spark.sources.debezium import to_debezium

    out = {}
    if workload in (None, "replay_cow"):
        df = gen_events(spark, n_events=CANARY_EVENTS, seed=0, **REPLAY_GEN).toPandas()
        out["replay_cow"] = oracle.input_checksum(df)
    if workload in (None, "tail_fanout"):
        gen = gen_events(spark, n_events=CANARY_EVENTS, seed=0, start_commit=TAIL_START,
                         **TAIL_KEYS)
        out["tail_fanout"] = oracle.input_checksum(gen.toPandas())
        env = to_debezium(gen, FIELDS, db="d", table="t").toPandas()
        out["tail_fanout_envelopes"] = oracle.text_checksum(env["value"])
    return out


# -- bulk replays --------------------------------------------------------------

def replay_inputs(run: Run, seed: int) -> dict:
    """Materialize the replay's events; returns their parquet path, the
    events as pandas and their checksum."""
    from filters_spark.sources.datagen import gen_events

    t = time.perf_counter()
    path = run.materialize(
        gen_events(run.spark, n_events=REPLAY_EVENTS, seed=seed, **REPLAY_GEN),
        f"{seed}/events",
    )
    run.setup_s += time.perf_counter() - t
    pdf = run.spark.read.parquet(path).toPandas()  # benchmark work: not set-up
    return {"path": path, "pdf": pdf, "checksums": {"events": oracle.input_checksum(pdf)}}


def replay_workload(run: Run, inputs: dict) -> dict:
    from filters_spark.sources.debezium import to_debezium

    spark, tracer, ops = run.spark, run.tracer, run.ops
    events, pdf = spark.read.parquet(inputs["path"]), inputs["pdf"]
    ref = oracle.Replay().apply(pdf)
    hot, cold = lookup_keys(ref.state, random.Random(run.seed), LOOKUPS_PER_REPLAY // 3)
    keys = [k for trio in zip(hot, cold, [ABSENT] * len(hot)) for k in trio]

    samples = {"ingest": [], "batch": [], "scan": [], "lookup": [], "setup": []}
    spans, verified = [], {}

    def ingest(where: str, timed: bool):
        t = time.perf_counter()
        engine = new_engine(spark, run.fresh("lake"), write_mode="cow")
        setup = time.perf_counter() - t
        with tracer.span("engine.cdc.replay", jobs=True) as sp:
            t = time.perf_counter()
            metrics = engine.replay(events, num_batches=REPLAY_BATCHES)
            ingest_s = time.perf_counter() - t
        ops.check(len(metrics) == REPLAY_BATCHES, f"{where}: {len(metrics)} batch metrics")
        check_counts(ops, metrics, where)
        ops.check(sum(m["events_in"] for m in metrics) == REPLAY_EVENTS,
                  f"{where}: events_in != {REPLAY_EVENTS}")
        dead = sum(m["dead_lettered"] for m in metrics)
        ops.check(dead == ref.dead, f"{where}: {dead} dead-lettered, oracle {ref.dead}")
        if timed:
            samples["setup"].append(setup)
            samples["ingest"].append(ingest_s)
            samples["batch"].extend(m["seconds"] for m in metrics)
            if sp:
                spans.append(sp)
        return engine, metrics

    def read(engine, metrics, where: str, timed: bool) -> None:
        scan_s, fp = scans(run, engine.table, where)
        looks = []
        for k in keys:
            with tracer.span("lake.table.lookup"):
                dt, got = lookup(engine.table, k)
            looks.append(dt)
            want = [ref.state[k]] if k in ref.state else []
            ops.check(got == want, f"{where}: lookup {k} = {got}, oracle {want}")
        if verified:  # same input: the same table as the verified warm-up
            ops.check(fp == verified, f"{where}: scan {fp} != warm-up scan {verified}")
        else:
            check_table(ops, ref, fp, where)
            check_dead_letters(ops, engine, sum(m["dead_lettered"] for m in metrics),
                               ref.dead, where)
            verified.update(fp)
        if timed:
            samples["scan"].extend(scan_s)
            samples["lookup"].extend(looks)

    run.phase("oracle")
    t = time.perf_counter()
    for i in range(WARM_REPLAYS):
        engine, metrics = ingest(f"warm-up replay {i}", timed=False)
        read(engine, metrics, f"warm-up replay {i}", timed=False)
    run.setup_s += time.perf_counter() - t
    run.phase("warm-up")
    # the replays first, then their reads, so each kind of call runs
    # back to back with its own kind
    replays = [ingest(f"timed replay {i}", timed=True) for i in range(TIMED_REPLAYS)]
    for i, (engine, metrics) in enumerate(replays):
        read(engine, metrics, f"timed replay {i}", timed=True)

    run.phase("timed")
    check_dead_letters(ops, engine, sum(m["dead_lettered"] for m in metrics), ref.dead,
                       "last replay")
    run.setup_s += harness.median(samples["setup"])
    _, written = data_bytes(engine.table)
    res = {
        "e2e": {
            "ingest_events_per_s": REPLAY_EVENTS / harness.median(samples["ingest"]),
            # the engine's own per-batch seconds: a replay call also
            # stages and validates the whole stream once, outside them
            "batch_latency": samples["batch"],
            "lookup_latency": samples["lookup"],
            "scan_s": harness.median(samples["scan"]),
            "write_bytes_per_event": written / REPLAY_EVENTS,
        },
        "details": {"replays": TIMED_REPLAYS, "events": REPLAY_EVENTS,
                    "batches": REPLAY_BATCHES, "replay_call_s": samples["ingest"],
                    "scan_s": samples["scan"]},
    }
    run.phase("checks")
    if tracer.enabled:
        dbz_path = run.materialize(
            to_debezium(events, FIELDS, db="d", table="t"), "envelopes"
        )
        layer = layer_probes(run, events, spark.read.parquet(dbz_path))
        layer["operators.validate.nonascii_rows"] = oracle.nonascii_rows(pdf)
        layer["engine.call_s"] = harness.median(samples["ingest"])
        layer.update(engine_layer(spans, metrics))
        layer["lake.table.read_s"] = harness.median(samples["scan"])
        layer["lake.table.lookup_s"] = harness.median(samples["lookup"])
        layer.update(table_layer(engine.table))
        res["layer"] = layer
    return res


# -- tail fan-out ----------------------------------------------------------------

def tail_events(spark, seed: int):
    """Both tables' events, a pre-load then the tail, with the table
    name in ``_t``."""
    from filters_spark.sources.datagen import gen_events

    frames = []
    for i, tname in enumerate(TAIL_TABLES):
        s = seed * 10 + i
        pre = gen_events(spark, n_events=TAIL_PRELOAD, seed=s, **TAIL_KEYS)
        tail = gen_events(spark, n_events=TAIL_BATCH * TAIL_MAX_BATCHES, seed=s + 5,
                          start_commit=TAIL_START, **TAIL_KEYS)
        frames.append(pre.unionByName(tail).withColumn("_t", F.lit(tname)))
    return frames[0].unionByName(frames[1])


def tail_inputs(run: Run, seed: int) -> dict:
    """Materialize both tables' events as one Debezium envelope stream
    partitioned by batch: ``_b=-1`` is the pre-load, ``_b=i`` tail
    batch ``i``. The engine-shaped events go to pandas for the oracle."""
    from filters_spark.sources.debezium import to_debezium

    spark = run.spark
    t = time.perf_counter()
    # generated once: the envelopes and the oracle's copy both read it
    events = spark.read.parquet(run.materialize(tail_events(spark, seed), f"{seed}/events"))
    envs = [to_debezium(events.filter(F.col("_t") == tname), FIELDS, db="d", table=tname)
            for tname in TAIL_TABLES]
    # the batch id from the envelope itself: to_debezium writes the
    # commit as the binlog file's decimal suffix
    commit = F.regexp_extract(
        F.get_json_object("value", "$.source.file"), r"(\d+)$", 1
    ).cast("long")
    batch = F.when(commit < TAIL_START, -1).otherwise(
        F.floor((commit - TAIL_START) / TAIL_BATCH_COMMITS)
    )
    envelopes = run.materialize(envs[0].unionByName(envs[1]).withColumn("_b", batch),
                                f"{seed}/envelopes", partition_by="_b")
    run.setup_s += time.perf_counter() - t

    pdf = events.toPandas()  # benchmark work: not set-up
    out = {"events": events, "envelopes": envelopes, "pre_pdf": {}, "tail_pdf": {},
           "checksums": {}}
    for tname in TAIL_TABLES:
        p = pdf[pdf["_t"] == tname].drop(columns="_t")
        out["checksums"][f"events_{tname}"] = oracle.input_checksum(p)
        commit = p["commit"].map(lambda c: int(c, 16))
        out["pre_pdf"][tname] = p[commit < TAIL_START]
        tp = p[commit >= TAIL_START].copy()
        tp["_b"] = (commit[commit >= TAIL_START] - TAIL_START) // TAIL_BATCH_COMMITS
        out["tail_pdf"][tname] = tp
    return out


def tail_workload(run: Run, inputs: dict) -> dict:
    from filters_spark.engine.fanout import TableRoute
    from filters_spark.engine.txn import fan_out_atomic

    spark, tracer, ops = run.spark, run.tracer, run.ops
    env_path, tail_pdf = inputs["envelopes"], inputs["tail_pdf"]
    refs, keys = {}, {}
    rng = random.Random(run.seed)
    for tname in TAIL_TABLES:
        refs[tname] = oracle.Replay().apply(inputs["pre_pdf"][tname])
        keys[tname] = lookup_keys(refs[tname].state, rng, 16)

    def batch(b):
        return spark.read.parquet(os.path.join(env_path, f"_b={b}"))

    run.phase("oracle")
    # pre-load both tables through the fan-out: one large batch
    t = time.perf_counter()
    routes = [
        TableRoute(tname, new_engine(spark, run.fresh(f"lake_{tname}"), write_mode="mor",
                                     compact_after=TAIL_COMPACT_AFTER))
        for tname in TAIL_TABLES
    ]
    txn_dir = run.fresh("txn")
    report = fan_out_atomic(batch(-1), routes, txn_dir, seq_expr=seq_expr)
    run.setup_s += time.perf_counter() - t
    ms = [report["tables"][r.table] for r in routes]
    ops.check(report.get("txn") == "committed", f"tail pre-load: txn {report.get('txn')}")
    check_counts(ops, ms, "tail pre-load")
    # dead letters per table and batch (-1: the pre-load), and the raw
    # dead-letter rows every delivery so far has adopted
    pre_pdf = inputs["pre_pdf"]
    batch_dead = {
        (t, b): oracle.dead_rows(pre_pdf[t] if b < 0 else tail_pdf[t][tail_pdf[t]["_b"] == b])
        for t in TAIL_TABLES for b in range(-1, TAIL_MAX_BATCHES)
    }
    raw_dead = {t: 0 for t in TAIL_TABLES}

    def check_dead(b: int, ms: list, resend: bool, where: str) -> None:
        for r, m in zip(routes, ms):
            want = batch_dead[r.table, b]
            # a re-send reports only the dead events past its bucket's
            # watermark; a first delivery, all of them
            ok = m["dead_lettered"] <= want if resend else m["dead_lettered"] == want
            ops.check(ok, f"{where} {r.table}: {m['dead_lettered']} dead-lettered, "
                          f"oracle {want}")
            raw_dead[r.table] += want if m["dead_lettered"] else 0

    check_dead(-1, ms, False, "tail pre-load")
    pre_bytes = sum(data_bytes(r.engine.table)[1] for r in routes)

    lat, call_s, look_lat, spans, metrics = [], [], [], [], []
    lookups = []  # (table, new batches applied, key, rows)
    state = {"applied": 0, "events_new": 0, "events_timed": 0}

    def step(i: int, timed: bool) -> None:
        """Closed-loop step ``i``: a new batch, or every RESEND_EVERY-th
        a re-send of the previous one, then three lookups in each table."""
        resend = is_resend(i)
        b = state["applied"] - 1 if resend else state["applied"]
        where = f"tail step {i} (batch {b}{', re-sent' if resend else ''})"
        with tracer.span("engine.txn.fan_out_atomic", jobs=True, resend=resend) as sp:
            t = time.perf_counter()
            report = fan_out_atomic(batch(b), routes, txn_dir, seq_expr=seq_expr)
            dt = time.perf_counter() - t
        ops.check(report.get("txn") == "committed", f"{where}: txn {report.get('txn')}")
        ms = [report["tables"][r.table] for r in routes]
        check_counts(ops, ms, where)
        n_events = sum(m["events_in"] for m in ms)
        ops.check(n_events == 2 * TAIL_BATCH, f"{where}: {n_events} events in")
        check_dead(b, ms, resend, where)
        if resend:
            ops.check(all(m["applied"] == 0 for m in ms), f"{where}: re-sent batch applied rows")
        else:
            state["applied"] += 1
            state["events_new"] += n_events
        for r in routes:
            hot, cold = keys[r.table]
            for k in (hot[i % len(hot)], cold[i % len(cold)], ABSENT):
                with tracer.span("lake.table.lookup"):
                    dt_l, got = lookup(r.engine.table, k)
                lookups.append((r.table, state["applied"], k, got))
                if timed:
                    look_lat.append(dt_l)
        if timed:
            call_s.append(dt)
            state["events_timed"] += n_events
            if not resend:
                lat.append(dt)
            metrics.extend(ms)
            if sp:
                spans.append(sp)

    t = time.perf_counter()
    for i in range(TAIL_WARM_STEPS):
        step(i, timed=False)
    # one untimed full read of each table: otherwise the first timed scan
    # pays the MoR read path's first compiles
    for r in routes:
        scan(r.engine.table)
    run.setup_s += time.perf_counter() - t
    run.phase("warm-up")
    for i in range(TAIL_WARM_STEPS, TAIL_STEPS):
        step(i, timed=True)
    applied_batches = state["applied"]

    run.phase("timed")
    # verify every lookup against the oracle state at its point in the
    # stream, then the final tables
    for tname in TAIL_TABLES:
        ref, tp = refs[tname], tail_pdf[tname]
        pending = sorted((c, k, got) for t_, c, k, got in lookups if t_ == tname)
        done = 0
        for c, k, got in pending:
            while done < c:
                ref.apply(tp[tp["_b"] == done])
                done += 1
            want = [ref.state[k]] if k in ref.state else []
            ops.check(got == want, f"tail {tname} after {c} batches: lookup {k} = {got}, "
                                   f"oracle {want}")
        while done < applied_batches:
            ref.apply(tp[tp["_b"] == done])
            done += 1
    scan_s = []
    for r in routes:
        s, fp = scans(run, r.engine.table, f"tail {r.table}")
        scan_s.extend(s)
        check_table(ops, refs[r.table], fp, f"tail {r.table}")
        check_dead_letters(ops, r.engine, raw_dead[r.table], refs[r.table].dead,
                           f"tail {r.table}")

    run.phase("checks")
    written = sum(data_bytes(r.engine.table)[1] for r in routes) - pre_bytes
    res = {
        "e2e": {
            # new and re-sent batches alike: events handed to the engine
            "ingest_events_per_s": state["events_timed"] / sum(call_s),
            "batch_latency": lat,
            "lookup_latency": look_lat,
            "scan_s": harness.median(scan_s),
            "write_bytes_per_event": written / state["events_new"],
        },
        "details": {"steps": TAIL_STEPS, "new_batches": applied_batches,
                    "call_s": call_s, "scan_s": scan_s,
                    "batch_events": 2 * TAIL_BATCH, "resend_every": RESEND_EVERY},
    }
    if tracer.enabled:
        n = applied_batches
        env_run = spark.read.parquet(env_path).filter(
            (F.col("_b") >= 0) & (F.col("_b") < n)
        ).select("value")
        commit = F.conv("commit", 16, 10).cast("long")
        ev_run = inputs["events"].filter(
            (commit >= TAIL_START) & (commit < TAIL_START + n * TAIL_BATCH_COMMITS)
        )
        layer = layer_probes(run, ev_run, env_run)
        layer["operators.validate.nonascii_rows"] = sum(
            oracle.nonascii_rows(tail_pdf[t][tail_pdf[t]["_b"] < n]) for t in TAIL_TABLES
        )
        layer["engine.call_s"] = harness.median(lat)
        layer.update(engine_layer(spans, metrics))
        layer["lake.table.read_s"] = harness.median(scan_s)
        layer["lake.table.lookup_s"] = harness.median(look_lat)
        tl = [table_layer(r.engine.table) for r in routes]
        for k in tl[0]:  # counts add up over the two tables; times are per table
            vals = [x[k] for x in tl]
            layer[k] = harness.median(vals) if k.endswith("_s") else sum(vals)
        layer["lake.table.live_ratio"] = (
            layer["lake.table.live_bytes"] / layer["lake.table.bytes_written"]
        )
        res["layer"] = layer
    return res


# name -> (inputs(run, seed), workload(run, inputs))
WORKLOADS = {
    "replay_cow": (replay_inputs, replay_workload),
    "tail_fanout": (tail_inputs, tail_workload),
}
