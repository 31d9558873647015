"""The benchmark's Spark driver process: one workload, one client.

Started by ``run.py`` with a JSON config path; writes its result JSON to
the path the config names. Every operation runs to completion before
the next one starts (closed loop, one client) on ``local[k]`` with
``k`` shuffle partitions.

Phases, in order:

1. set-up, repeated ``SETUPS`` times (session start, warm-up, table
   seeding); ``setup_s`` is the median;
2. a check pass (``llm_corpus``) or priming round (``table_rw``) that
   warms the JVM and Python workers outside every timer;
3. in trace mode only (every session then writes the Spark event
   log): one pass with spans off, the reference for
   ``trace.overhead_s``, then spans on;
4. measured passes: at least the configured minimum, and more while
   ``--seconds`` have not elapsed;
5. output checks against DuckDB (``llm_corpus``) or an independent
   pandas model of the table (``table_rw``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer, covered, parse_eventlog, self_times  # noqa: E402

SETUPS = 3
# the read tail is the highest percentile with >= 10 samples beyond it
TAIL_PCT = 75
TAIL_MIN_SAMPLES = 40

# Oracle'd LLM-data queries, four to five per operator family, among
# them the MinHash-LSH and shingle self-joins. Index builds (sim_index_*,
# t_index_bm25_topk) are multi-commit table work and stay out, as do
# the queries costing over a second each at this corpus size, so that
# three passes fit the run budget.
LLM_QUERIES = (
    "d_minhash_lsh_df",
    "d_ngram_jaccard",
    "d_exact_dedup",
    "d_simhash",
    "d_chunk_dedup",
    "sim_cosine_topk",
    "sim_embed_neardup_pairs",
    "sim_quantize_sq8",
    "sim_fp16_quantize_verified",
    "t_bm25_topk",
    "t_lang_id",
    "t_quality_features",
    "t_pii_scrub",
    "t_oov_rate",
)
LLM_FAMILY = {"d": "llm.dedup_s", "sim": "llm.similarity_s", "t": "llm.text_s"}
LLM_WARMUP = "t_token_count_by_source"
LLM_LAYERS = tuple(LLM_FAMILY.values())

TABLE_LAYERS = (
    "versioned.commit_append_s",
    "versioned.merge_upsert_s",
    "versioned.delete_s",
    "versioned.compact_s",
    "versioned.vacuum_s",
    "versioned.read_plan_s",
    "versioned.read_exec_s",
    "versioned.manifest_hit_s",
    "versioned.manifest_miss_s",
    "versioned.manifest_hits",
    "versioned.manifest_misses",
    "versioned.files_live",
    "versioned.files_added",
    "versioned.log_bytes",
    "dsv2.read_s",
    "dsv2.partitions",
    "stream.drain_s",
    "stream.batches",
    "stream.batch_s",
    "stream.rows",
)

# Self times that partition a traced pass: they sum to trace.wall_s.
SELF_TIME_LAYERS = (
    "catalog.load_table_s",
    "queries.build_s",
    "spark.action_driver_s",
    "spark.job_wall_s",
    "versioned.commit_append_s",
    "versioned.merge_upsert_s",
    "versioned.delete_s",
    "versioned.compact_s",
    "versioned.vacuum_s",
    "versioned.read_plan_s",
    "versioned.read_exec_s",
    "versioned.manifest_hit_s",
    "versioned.manifest_miss_s",
    "dsv2.read_s",
    "stream.drain_s",
    "driver.other_s",
)

# table_rw: one round is this commit train, each commit followed by a
# latest-snapshot read, a time-travel read and a second latest read; a
# DSv2 read after the 3rd commit and a change-feed drain after the 6th;
# then compact + vacuum. The public constructor arguments
# manifest_inline_max=4 and manifest_checkpoint_every=4 put every commit
# after a round's first append on delta manifests and checkpoint every
# 4th, so the delta + checkpoint cycle runs in every round (reaching the
# default 512 live files by volume would take hundreds of commits).
TABLE_TRAIN = ("append", "merge", "append", "delete", "append", "merge")
TABLE_OPTS = {"manifest_inline_max": 4, "manifest_checkpoint_every": 4}
KEEP_VERSIONS = 24  # vacuum horizon; time travel reaches this far back
MANIFEST_CACHE = 8  # VersionedTable's per-handle manifest cache (_MCACHE_CAP)


def percentile(values: list[float], pct: float) -> float:
    """Harrell-Davis estimate of the ``pct`` percentile: a weighted mean
    of all order statistics (beta(p(n+1), (1-p)(n+1)) weights). Read
    latencies mix operations of different cost, so one order statistic
    jumps between clusters from run to run; the weighted estimate does
    not."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 0:
        return float("nan")
    if n == 1:
        return float(xs[0])
    p = pct / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    steps = 64
    grid = np.linspace(0.0, 1.0, steps * n + 1)[1:-1]
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.concatenate(([0.0], np.exp(logpdf - logpdf.max()), [0.0]))
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    w = np.diff(cdf[::steps])
    return float(np.dot(w / w.sum(), xs))


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Bench:
    """State shared by both workloads: config, session, samples, spans."""

    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.k = int(cfg["cpus"])
        self.seed = int(cfg["seed"])
        self.data_dir = cfg["data_dir"]
        self.work = cfg["work_dir"]
        self.tracer = Tracer(False)
        self.spark = None
        self.reads: list[float] = []
        self.commits: list[float] = []
        self.pass_walls: list[float] = []
        self.windows: list[tuple[float, float]] = []
        self.ops: list[tuple[str, float, float]] = []  # (label, t0, t1) epoch, trace mode
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.layer_counts: dict[str, float] = {}
        self.by_label: dict[str, list[float]] = {}
        self._phase_t = time.perf_counter()
        self.setups = 1 if cfg["quick"] else SETUPS
        self.tail_min = 1 if cfg["quick"] else TAIL_MIN_SAMPLES

    # -- session ---------------------------------------------------------
    def start_session(self, eventlog: bool = False):
        from unity_to_bigquery_spark.session import get_spark
        from unity_to_bigquery_spark.sources.versioned_stream import register

        extra = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed initial heap and young generation, so the JVM's
            # resident set does not depend on how far G1 chose to grow;
            # no hsperfdata file, which would land in /tmp
            "spark.driver.extraJavaOptions": f"-Xms{self.cfg['driver_mem']} -Xmn{self.cfg['young_mem']} "
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.cfg['tmp_dir']}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if eventlog:
            evdir = os.path.join(self.work, "eventlog")
            os.makedirs(evdir, exist_ok=True)
            extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file:{evdir}",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{self.cfg['workload']}",
            master=f"local[{self.k}]",
            shuffle_partitions=self.k,
            extra_conf=extra,
        )
        self.session_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        register(spark)
        self.spark = spark
        self.app_id = spark.sparkContext.applicationId
        return spark

    def phase(self, name: str) -> None:
        """Log the end of a phase, with its duration, to stderr."""
        now = time.perf_counter()
        sys.stderr.write(f"perfbench: {name} done in {now - self._phase_t:.1f}s\n")
        self._phase_t = now

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def eventlog_path(self) -> str:
        evdir = os.path.join(self.work, "eventlog")
        app = self.app_id
        for name in os.listdir(evdir):
            if name.startswith(app):
                return os.path.join(evdir, name)
        raise FileNotFoundError(f"no event log for {app} in {evdir}")

    # -- operations ------------------------------------------------------
    def op(self, kind: str, label: str, fn):
        """Run one operation; record its latency under ``kind``."""
        self.attempted += 1
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 -- a failed operation is counted, not fatal
            self.failed += 1
            sys.stderr.write(f"operation {label} failed:\n{traceback.format_exc()}\n")
            out = None
        else:
            dt = time.perf_counter() - t0
            (self.reads if kind == "read" else self.commits).append(dt)
            self.by_label.setdefault(label, []).append(dt)
            if self.tracer.enabled:
                self.ops.append((label, w0, time.time()))
        self.spark.catalog.clearCache()
        return out

    def reset_samples(self) -> None:
        """Forget the operations run so far (warm-up, priming)."""
        self.reads.clear()
        self.commits.clear()
        self.by_label.clear()
        self.attempted = self.failed = 0

    def timed_pass(self, body) -> float:
        w0 = time.time()
        t0 = time.perf_counter()
        body()
        wall = time.perf_counter() - t0
        sys.stderr.write(f"perfbench: pass {len(self.pass_walls)} wall {wall:.3f}s\n")
        self.windows.append((w0, time.time()))
        self.pass_walls.append(wall)
        return wall

    def measure(self, body) -> None:
        t_end = time.perf_counter() + float(self.cfg["seconds"])
        i = 0
        while i < self.cfg["min_passes"] or time.perf_counter() < t_end:
            self.timed_pass(lambda: body(i))
            i += 1

    # -- tracing ---------------------------------------------------------
    def install_spans(self):
        """Record spans around the package's public layer entry points."""
        import unity_to_bigquery_spark.catalog as catalog
        from unity_to_bigquery_spark.plans.versioned import VersionedTable

        tr = self.tracer
        orig = catalog.load_table
        wrapped = tr.wrap("catalog.load_table_s", orig)
        self._load_calls = 0

        def load_table(*a, **kw):
            self._load_calls += 1
            return wrapped(*a, **kw)

        for name, mod in list(sys.modules.items()):
            if name.startswith("unity_to_bigquery_spark") and getattr(mod, "load_table", None) is orig:
                setattr(mod, "load_table", load_table)

        orig_manifest = VersionedTable.manifest
        counts = self.layer_counts

        def manifest(t, version=None):
            cached = {id(v) for v in (t.__dict__.get("_mcache") or {}).values()}
            w0 = time.time()
            m = orig_manifest(t, version)
            hit = id(m) in cached
            layer = "versioned.manifest_hit_s" if hit else "versioned.manifest_miss_s"
            tr.spans.append((layer, w0, time.time(), tr._depth + 1))
            key = "versioned.manifest_hits" if hit else "versioned.manifest_misses"
            counts[key] = counts.get(key, 0) + 1
            return m

        VersionedTable.manifest = manifest

    def trace_metrics(self, passes: int) -> dict[str, float]:
        """Per-pass layer metrics from spans and the event log."""
        ev = parse_eventlog(self.eventlog_path(), self.windows)
        selfs = self_times(self.tracer.spans, ev["intervals"], self.windows)
        per = lambda x: x / passes  # noqa: E731
        out = {k: per(v) for k, v in selfs.items()}
        op_iv = [(a, b) for _, a, b in self.ops]
        out["driver.gap_s"] = per(covered(op_iv, self.windows) - covered(ev["intervals"], op_iv))
        out["spark.jobs"] = per(ev["jobs"])
        out["spark.stages"] = per(ev["stages"])
        out["spark.tasks"] = per(ev["tasks"])
        for key in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes"):
            out[f"spark.{key}"] = per(ev[key])
        out["trace.wall_s"] = statistics.fmean(self.pass_walls)
        out["catalog.load_table_calls"] = per(self._load_calls)
        for k, v in self.layer_counts.items():
            out[k] = per(v)
        self._eventlog = ev
        return out


# ---------------------------------------------------------------------------
# llm_corpus
# ---------------------------------------------------------------------------


def run_llm(b: Bench) -> dict:
    import duckdb

    from tests.oracle_compare import canonicalize
    from unity_to_bigquery_spark.registry import all_queries

    reg = all_queries()
    queries = [reg[n] for n in LLM_QUERIES]
    b.phase("imports")
    order_rng = random.Random(b.seed)

    for i in range(b.setups):
        t0 = time.perf_counter()
        spark = b.start_session(eventlog=b.cfg["trace"])
        reg[LLM_WARMUP].spark(spark, b.data_dir).count()
        b.setup_s.append(time.perf_counter() - t0)
        if i < b.setups - 1:
            b.stop_session()
    sys.stderr.write(f"perfbench: setups {b.setup_s} sessions {b.session_s}\n")
    b.phase("setup")
    results: dict[str, list] = {q.name: [] for q in queries}

    def run_query(q, keep: bool):
        def fn():
            with b.tracer.span("queries.build_s"):
                df = q.spark(b.spark, b.data_dir)
            with b.tracer.span("spark.action_driver_s"):
                return df.toPandas()

        pdf = b.op("read", q.name, fn)
        if keep and pdf is not None:
            results[q.name].append(pdf)

    def one_pass(keep: bool):
        order = list(queries)
        order_rng.shuffle(order)
        for q in order:
            run_query(q, keep)

    # check pass: every query once, each result checked against DuckDB
    # below. It is also the warm-up, so it runs k queries at a time to
    # shorten the cold start (no timer is running).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=b.k) as pool:
        futures = [(q, pool.submit(lambda q=q: q.spark(b.spark, b.data_dir).toPandas())) for q in queries]
        for q, fut in futures:
            try:
                results[q.name].append(fut.result())
            except Exception as exc:  # noqa: BLE001 -- reported as a wrong answer
                b.mismatches.append(f"{q.name} raised {type(exc).__name__}: {str(exc)[:200]}")
    b.spark.catalog.clearCache()
    b.phase("check pass")
    if b.cfg["trace"]:
        t0 = time.perf_counter()
        one_pass(keep=False)
        b.untraced_pass_s = time.perf_counter() - t0
        b.tracer.enabled = True
        b.install_spans()
    b.reset_samples()
    b.phase("trace start")
    b.measure(lambda i: one_pass(keep=True))
    b.tracer.enabled = False
    finish = measure_done(b)
    b.phase("measure")

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{b.data_dir}/{t}.parquet')")
    for q in queries:
        want = canonicalize(con.sql(q.oracle).df())
        for pdf in results[q.name]:
            if canonicalize(pdf) != want:
                b.mismatches.append(q.name)
                break
        if not results[q.name]:
            b.mismatches.append(f"{q.name} (no result)")
    con.close()
    b.phase("checks")

    if b.cfg["trace"]:
        passes = len(b.pass_walls)
        fam: dict[str, float] = {}
        for label, a, z in b.ops:
            key = LLM_FAMILY[label.split("_")[0]]
            fam[key] = fam.get(key, 0.0) + (z - a)
        finish["trace"] = {k: v / passes for k, v in fam.items()}
    return finish


def measure_done(b: Bench) -> dict:
    """Figures read right after the measured passes."""
    jvm = b.spark.sparkContext._gateway.proc.pid
    py_kb, jvm_kb = vm_hwm_kb("self"), vm_hwm_kb(jvm)
    sys.stderr.write(f"perfbench: VmHWM driver {py_kb} kB, JVM {jvm_kb} kB\n")
    return {"peak_rss_mb": (py_kb + jvm_kb) / 1024.0}


# ---------------------------------------------------------------------------
# table_rw
# ---------------------------------------------------------------------------


class TableModel:
    """Independent pandas model of the table: applies the same seeded
    operations by key and remembers the snapshot of every version."""

    def __init__(self, base: pd.DataFrame):
        self.cur = base.set_index("event_id", drop=False)
        self.at: dict[int, pd.DataFrame] = {}

    def append(self, df: pd.DataFrame):
        self.cur = pd.concat([self.cur, df.set_index("event_id", drop=False)])

    def merge(self, df: pd.DataFrame):
        upd = df.set_index("event_id", drop=False)
        self.cur = pd.concat([self.cur.drop(index=upd.index, errors="ignore"), upd])

    def delete(self, keys: np.ndarray):
        self.cur = self.cur.drop(index=keys, errors="ignore")

    def snap(self, version: int):
        self.at[version] = self.cur
        for v in [v for v in self.at if v <= version - KEEP_VERSIONS - 2]:
            del self.at[v]


def run_table(b: Bench) -> dict:
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    import datagen
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    base = pq.read_table(os.path.join(b.data_dir, "events.parquet")).to_pandas()
    rng = np.random.default_rng(b.seed)
    state = {"next_id": int(base["event_id"].max()) + 1}
    tt_rng = random.Random(b.seed)

    def to_df(pdf: pd.DataFrame):
        return b.spark.createDataFrame(pdf, schema=schema)

    def new_rows(n: int) -> pd.DataFrame:
        pdf = datagen.events(rng, n, first_id=state["next_id"]).to_pandas()
        state["next_id"] += n
        return pdf

    root = None
    for i in range(b.setups):
        t0 = time.perf_counter()
        spark = b.start_session(eventlog=b.cfg["trace"])
        root = os.path.join(b.work, f"table{i}")
        t = VersionedTable(spark, root, **TABLE_OPTS)
        t.commit_append(load_table(spark, b.data_dir, "events").repartition(b.k))
        t.read().count()
        b.setup_s.append(time.perf_counter() - t0)
        if i < b.setups - 1:
            b.stop_session()
            shutil.rmtree(root)
    b.phase("setup")
    model = TableModel(base)
    model.snap(t.latest_version())
    ckpt = os.path.join(b.work, "cdf_ckpt")
    stream_stats = {"batches": 0, "rows": 0, "batch_s": 0.0}
    seen_files: set[str] = set()

    def data_files() -> set[str]:
        out = set()
        for d, _, files in os.walk(os.path.join(root, "data")):
            out.update(os.path.join(d, f) for f in files if f.endswith(".parquet"))
        return out

    def commit(kind: str):
        if kind == "append":
            pdf = new_rows(int(rng.integers(200, 801)))
            layer, fn = "versioned.commit_append_s", lambda: t.commit_append(to_df(pdf))
            apply = lambda: model.append(pdf)  # noqa: E731
        elif kind == "merge":
            live = model.cur["event_id"].to_numpy()
            keys = rng.choice(live, int(rng.integers(100, 401)), replace=False)
            upd = model.cur.loc[keys].reset_index(drop=True).copy()
            upd["value"] = np.round(rng.exponential(50.0, len(upd)), 2)
            upd["event_type"] = rng.choice(datagen.EVENT_TYPES, len(upd))
            pdf = pd.concat([upd, new_rows(int(rng.integers(50, 201)))], ignore_index=True)
            layer, fn = "versioned.merge_upsert_s", lambda: t.merge_upsert(to_df(pdf), "event_id")
            apply = lambda: model.merge(pdf)  # noqa: E731
        else:
            live = model.cur["event_id"].to_numpy()
            keys = np.sort(rng.choice(live, int(rng.integers(50, 301)), replace=False))
            kdf = pd.DataFrame({"event_id": keys.astype(np.int64)})
            layer = "versioned.delete_s"
            fn = lambda: t.commit_delete_where(b.spark.createDataFrame(kdf), "event_id")  # noqa: E731
            apply = lambda: model.delete(keys)  # noqa: E731

        def traced():
            with b.tracer.span(layer):
                return fn()

        v = b.op("commit", kind, traced)
        if v is not None:
            apply()
            model.snap(v)
        if b.tracer.enabled:
            now = data_files()
            b.layer_counts["versioned.files_added"] = b.layer_counts.get("versioned.files_added", 0) + len(now - seen_files)
            seen_files.update(now)

    def read_latest():
        def fn():
            with b.tracer.span("versioned.read_plan_s"):
                df = t.read()
            with b.tracer.span("versioned.read_exec_s"):
                return df.count()

        b.op("read", "latest", fn)

    def read_time_travel():
        latest = t.latest_version()
        lo = max(1, latest - KEEP_VERSIONS + 1)
        hi = latest - MANIFEST_CACHE - 1
        v = tt_rng.randint(lo, hi) if hi >= lo else lo

        def fn():
            with b.tracer.span("versioned.read_plan_s"):
                df = t.read(version=v)
            with b.tracer.span("versioned.read_exec_s"):
                return df.count()

        b.op("read", "time_travel", fn)

    def read_dsv2():
        def fn():
            with b.tracer.span("dsv2.read_s"):
                return b.spark.read.format("versioned_table").option("path", root).load().count()

        b.op("read", "dsv2", fn)

    def drain_cdf():
        def fn():
            with b.tracer.span("stream.drain_s"):
                q = (
                    b.spark.readStream.format("versioned_table")
                    .option("path", root)
                    .option("emit_change_types", "true")
                    .load()
                    .writeStream.format("noop")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            return q.recentProgress

        progress = b.op("read", "cdf", fn)
        for p in progress or []:
            stream_stats["batches"] += 1
            stream_stats["rows"] += int(p.get("numInputRows", 0))
            stream_stats["batch_s"] += p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0

    def maintain():
        def do_compact():
            with b.tracer.span("versioned.compact_s"):
                return t.compact(target_files=1)

        def do_vacuum():
            with b.tracer.span("versioned.vacuum_s"):
                return t.vacuum(keep_last=KEEP_VERSIONS, orphan_grace_sec=0)

        v = b.op("commit", "compact", do_compact)
        if v is not None:
            model.snap(v)
        b.op("commit", "vacuum", do_vacuum)

    def one_round(_i: int):
        for j, kind in enumerate(TABLE_TRAIN):
            commit(kind)
            read_latest()
            read_time_travel()
            read_latest()
            if j == 2:
                read_dsv2()
            if j == 5:
                drain_cdf()
        maintain()

    # priming: one whole round outside every timer, so the measured
    # rounds start with the JIT and Python workers warm
    one_round(-1)
    b.reset_samples()
    b.phase("priming")
    if b.cfg["trace"]:
        t0 = time.perf_counter()
        one_round(-1)
        b.untraced_pass_s = time.perf_counter() - t0
        b.tracer.enabled = True
        b.install_spans()
        seen_files.update(data_files())
    stream_stats.update(batches=0, rows=0, batch_s=0.0)
    b.reset_samples()
    b.phase("trace start")
    b.measure(one_round)
    b.tracer.enabled = False
    finish = measure_done(b)
    b.phase("measure")

    # output checks: the latest snapshot, one time-travel snapshot and
    # the DSv2 relation against the model
    latest = t.latest_version()
    tt_v = latest - 3
    checks = [("latest", t.read(), model.at[latest]), (f"v{tt_v}", t.read(version=tt_v), model.at[tt_v])]
    checks.append(("dsv2", b.spark.read.format("versioned_table").option("path", root).load(), model.at[latest]))
    for name, df, want in checks:
        got = df.toPandas().sort_values("event_id").reset_index(drop=True)
        want = want.reset_index(drop=True).sort_values("event_id").reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False, check_exact=True)
        except AssertionError as exc:
            b.mismatches.append(f"table_rw {name}: {str(exc)[:200]}")
    b.phase("checks")
    m = t.manifest()
    data_dir = os.path.join(root, "data")
    live = sum(
        os.path.getsize(f if os.path.isabs(f) else os.path.join(data_dir, f)) for f in m["files"]
    )
    finish["bytes_stored_per_user_byte"] = dir_bytes(root) / live
    finish["files_live"] = len(m["files"])
    finish["log_bytes"] = dir_bytes(os.path.join(root, "_manifests"))
    finish["stream"] = dict(stream_stats)
    return finish


# ---------------------------------------------------------------------------


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    b = Bench(cfg)
    run = {"llm_corpus": run_llm, "table_rw": run_table}[cfg["workload"]]
    try:
        finish = run(b)
    finally:
        b.stop_session()  # also closes and flushes the event log
    out = summarize(b, finish)
    with open(cfg["result_path"], "w") as fh:
        json.dump(out, fh)


def summarize(b: Bench, finish: dict) -> dict:
    reads = b.reads
    per_op = {k: round(statistics.median(v), 4) for k, v in sorted(b.by_label.items())}
    sys.stderr.write(f"perfbench: median latency by operation {per_op}\n")
    res = {
        "attempted": b.attempted,
        "failed": b.failed,
        "mismatches": b.mismatches,
        "read_samples": len(reads),
        "commit_samples": len(b.commits),
        "passes": len(b.pass_walls),
        "e2e": {
            "setup_s": statistics.median(b.setup_s),
            "wall_s": statistics.median(b.pass_walls),
            "read_p50_s": percentile(reads, 50),
            "read_tail_s": percentile(reads, TAIL_PCT) if len(reads) >= b.tail_min else float("nan"),
            "peak_rss_mb": finish["peak_rss_mb"],
        },
    }
    commits = b.commits
    layer: dict[str, float] = {
        "session.start_s": statistics.median(b.session_s[: b.setups]),
        "commit_p50_s": percentile(commits, 50) if commits else 0.0,
        "commit_tail_s": percentile(commits, TAIL_PCT) if commits else 0.0,
        "error_rate": b.failed / max(1, b.attempted),
        "bytes_stored_per_user_byte": finish.get("bytes_stored_per_user_byte", 0.0),
    }
    if b.cfg["trace"]:
        layer.update(b.trace_metrics(len(b.pass_walls)))
        layer.update(finish.get("trace", {}))
        layer["trace.overhead_s"] = statistics.median(b.pass_walls) - b.untraced_pass_s
        if "files_live" in finish:
            layer["versioned.files_live"] = finish["files_live"]
            layer["versioned.log_bytes"] = finish["log_bytes"]
        st = finish.get("stream")
        if st:
            n = len(b.pass_walls)
            layer["stream.batches"] = st["batches"] / n
            layer["stream.rows"] = st["rows"] / n
            layer["stream.batch_s"] = st["batch_s"] / n
        if b._eventlog["job_max_tasks"]:
            dsv2 = [(a, z) for label, a, z in b.ops if label == "dsv2"]
            widths = [w for (j0, j1), w in b._eventlog["job_max_tasks"].items() if any(a <= j0 <= z for a, z in dsv2)]
            layer["dsv2.partitions"] = max(widths) if widths else 0
        # a layer the workload never calls costs nothing on it
        other = TABLE_LAYERS if b.cfg["workload"] == "llm_corpus" else LLM_LAYERS
        for k in other + SELF_TIME_LAYERS + ("catalog.load_table_calls",):
            layer.setdefault(k, 0.0)
    res["layer"] = layer
    return res


if __name__ == "__main__":
    main(sys.argv[1])
