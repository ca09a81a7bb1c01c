"""The benchmark's workloads. Each is one client in a closed loop.

A run generates its inputs (not timed), sets up the program once from cold
(``setup_s``: importing the package, starting the session, JVM included,
and building the artifact memos the workload reads), makes one untimed pass
that makes exactly the timed passes' calls and takes the cold first calls,
checks every result against its oracle outside any timed window, then
makes ``MIN_PASSES`` timed passes, and more only while ``--seconds`` have
not elapsed (at ``--seconds 10`` a pass is too long for that, so the count
is fixed: the JIT is still compiling through the whole run, and a count
set by the clock would move with it). Each operation's latency is its
median over the timed passes, and ``wall_s`` is the pass built from those
medians. A traced run then restarts the session with the Spark event log
on and makes one more pass with a job group per operation and a span
around each call into a layer; that pass's wall minus the untraced
``wall_s`` is the tracing overhead.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from contextlib import nullcontext

import eventlog
import ghgen
import lakegen
import oracle
import probes
from spans import Spans
from stats import median, percentile

# The lake is the fixture lake's shape at sf0.01, generated from a fixed
# seed: q376's oracle (a full MinHash replay) takes over a minute in
# DuckDB, so the answers ship with the benchmark (expected/) and cannot
# follow the run seed, which permutes the query order instead.
LAKE_SEED, LAKE_SF = 42, 0.01
CURATION = ("q295_triangle_count", "q376_incremental_near_dup")
# artifact memos the curation queries read, built during set-up
MEMOS = ("minhash_index",)
MIN_PASSES = 5
STREAM_PARTS = ("addBatch", "latestOffset", "getBatch", "queryPlanning",
                "walCommit", "commitOffsets", "triggerExecution")
STREAM_TIMEOUT_S = 120


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order. A traced run of any
    workload reports all of them; a layer the workload never calls reads 0,
    which is what makes that workload the control for the layer."""
    names = ["session.start_s", *[f"prep.{m}_s" for m in MEMOS], "jvm.gc_s", "jvm.cpu_s", "jvm.heap_peak_mb",
             "peak_rss_mb",
             "plans.build_s", "plans.exec_s",
             "spark.jobs", "spark.stages", "spark.tasks",
             "spark.tasks_per_stage", "spark.job_s", "spark.gap_s",
             "exec.run_s", "exec.cpu_s", "shuffle.records", "shuffle.bytes",
             "spill.bytes", "scan.rows"]
    for q in CURATION:
        names += [f"curation.{q}.{k}"
                  for k in ("s", "jobs", "gap_s", "shuffle_records")]
    names += ["elt.silver_s", "elt.gold_s", "elt.bytes_in", "elt.bytes_written",
              "elt.files_written", "elt.events_per_s",
              "stream.batches", "stream.start_s"]
    names += [f"stream.{p}_ms_p50" for p in STREAM_PARTS]
    names += ["stream.write_amp", "stream.events_per_s", "stream.batch_s_p50",
              "host.steal_s", "host.load1", "trace.overhead_s"]
    return names


class Run:
    """State of one benchmark run: session, counters and work directories."""

    def __init__(self, root: str, seed: int, seconds: int, trace: bool):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        work = os.path.join(root, ".perfbench_work")
        self.cache = os.path.join(work, "cache")
        self.scratch = os.path.join(work, f"run-{os.getpid()}")
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.record: dict = {}
        self.spans = Spans()
        self.spark = None
        self.preps: dict[str, float] = {}
        self.steal0 = probes.steal_s()

    def check(self, what: str, problem: str | None) -> None:
        """Count one operation; ``problem`` (if any) makes it a failure."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self.errors.append(f"{what}: {problem}")

    def start_session(self, confs: dict[str, str] | None = None) -> float:
        from gh_archive_data_pipeline_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        t0 = time.monotonic()
        self.spark = get_spark(app_name="perfbench", confs=confs)
        return time.monotonic() - t0

    def setup(self, load):
        """Cold set-up: ``load()`` (the package imports the workload needs)
        then the first session start. Returns (seconds, what load returned)."""
        t0 = time.monotonic()
        loaded = load()
        t1 = time.monotonic()
        self.cold_start_s = self.start_session()
        self.jvm = probes.Jvm(self.spark)
        self.record["context"] = self.context()
        self.record["import_s"] = t1 - t0
        return time.monotonic() - t0, loaded

    def prep(self, memo: str, build) -> float:
        """Build one artifact memo during set-up; returns its seconds."""
        t0 = time.monotonic()
        build()
        self.preps[memo] = time.monotonic() - t0
        self.record["prep_s"] = self.preps
        return self.preps[memo]

    def context(self) -> dict:
        conf = self.spark.conf
        return {"nproc": len(os.sched_getaffinity(0)),
                "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
                "driver_memory": conf.get("spark.driver.memory")}

    def host(self) -> dict:
        return {"host.steal_s": probes.steal_s() - self.steal0,
                "host.load1": probes.load1()}

    def set_group(self, group: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def traced_pass(self, body, untraced_wall: float) -> tuple[dict, tuple]:
        """Run ``body()`` in a fresh session with the event log on. Returns
        the session/JVM/host metrics, zeros for every other per-layer metric,
        and the parsed log (jobs, stages, wall-clock window of the pass)."""
        log_dir = os.path.join(self.scratch, "eventlog")
        os.makedirs(log_dir)
        self.start_session({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        gc0, cpu0 = self.jvm.gc_s(), self.jvm.cpu_s()
        t0 = time.monotonic()
        body()
        wall = time.monotonic() - t0
        out = dict.fromkeys(per_layer_names(), 0)
        out.update({f"prep.{m}_s": s for m, s in self.preps.items()})
        out.update({"session.start_s": self.cold_start_s,
                    "jvm.gc_s": self.jvm.gc_s() - gc0,
                    "jvm.cpu_s": self.jvm.cpu_s() - cpu0,
                    "jvm.heap_peak_mb": self.jvm.heap_peak_mb(),
                    "peak_rss_mb": self.jvm.peak_rss_mb(),
                    "trace.overhead_s": wall - untraced_wall})
        self.spark.stop()  # drains the listener bus and closes the log
        self.spark = None
        (path,) = glob.glob(os.path.join(log_dir, "*"))
        out.update(self.host())
        return out, eventlog.read(path)

    def close(self) -> None:
        """Stop the session, then the JVM (it exits when its stdin closes),
        and wait for it."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None and gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(self.scratch, ignore_errors=True)


def _fold_ops(spans: Spans, jobs, stages) -> tuple[eventlog.Profile, float,
                                                   dict[str, tuple]]:
    """Sum the job-group profile of every ``op`` span. Returns the total,
    the summed gap (op wall outside any job) and, per op, (wall, profile)."""
    total, gap, per_op = eventlog.Profile(), 0.0, {}
    for s in spans.spans:
        if s.name != "op":
            continue
        prof = eventlog.profile(jobs, stages, group=s.op)
        eventlog.add(total, prof)
        gap += (s.end - s.start) - prof.job_s
        per_op[s.op] = (s.end - s.start, prof)
    return total, gap, per_op


def _layer_metrics(prof: eventlog.Profile, gap_s: float) -> dict[str, float]:
    m = prof.metrics
    return {
        "spark.jobs": prof.jobs, "spark.stages": prof.stages,
        "spark.tasks": prof.tasks,
        "spark.tasks_per_stage": prof.tasks / prof.stages if prof.stages else 0,
        "spark.job_s": prof.job_s, "spark.gap_s": gap_s,
        "exec.run_s": m["exec_run_ms"] / 1000.0,
        "exec.cpu_s": m["exec_cpu_ns"] / 1e9,
        "shuffle.records": m["shuffle_records"],
        "shuffle.bytes": m["shuffle_bytes"],
        "spill.bytes": m["spill_memory_bytes"] + m["spill_disk_bytes"],
        "scan.rows": m["scan_rows"],
    }


def _load_curation():
    from gh_archive_data_pipeline_spark.operators.dedup import _cached_minhash_index
    from gh_archive_data_pipeline_spark.plans.registry import all_queries
    return all_queries(), _cached_minhash_index


def _load_ingest():
    from gh_archive_data_pipeline_spark.pipeline import runner, schema, stages
    from gh_archive_data_pipeline_spark.streaming import pipeline
    return runner, schema, stages, pipeline


class Curation:
    """The ML-data engineer path: composed curation queries from the
    registry over the benchmark's lake, each reduced by the prune-proof hash
    action. The seed permutes the query order of every pass."""

    names = CURATION

    def order(self, seed: int, p: int) -> list[str]:
        return random.Random(f"{seed}:{p}").sample(self.names, len(self.names))

    def one(self, run: Run, name: str, traced: bool = False):
        """Build and execute one query: (build_s, exec_s, hash, frame).
        Raises whatever the query raises."""
        op = f"{name}#{len(run.spans.spans)}"  # job group and span id
        if traced:
            run.set_group(op)
        with run.spans.span("op", op=op) if traced else nullcontext():
            t0 = time.monotonic()
            with run.spans.span("plans.build") if traced else nullcontext():
                df = self.specs[name].fn(run.spark, self.lake)
            t1 = time.monotonic()
            with run.spans.span("plans.exec") if traced else nullcontext():
                h = oracle.hash_action(df)
            t2 = time.monotonic()
        return t1 - t0, t2 - t1, h, df

    def timed(self, run: Run, name: str, ref: dict,
              traced: bool = False) -> float | None:
        """One counted operation: latency, or None when the query raised or
        its hash differs from the checked one."""
        try:
            build_s, exec_s, h, _ = self.one(run, name, traced)
        except Exception as e:  # a raising query is a failed operation
            run.check(name, f"{type(e).__name__}: {e}")
            return None
        problem = None if h == ref.get(name) else f"hash {h} != checked {ref.get(name)}"
        run.check(name, problem)
        return None if problem else build_s + exec_s

    def warm_and_check(self, run: Run) -> dict[str, tuple]:
        """Untimed: per query, the timed passes' exact call (the warm-up),
        whose result must be bit-equal to the oracle answer (see
        ``oracle``). Its hash is what every timed pass must match."""
        ref, warm, check = {}, {}, {}
        for name in self.order(run.seed, 0):
            t0 = time.monotonic()
            try:
                _, _, ref[name], df = self.one(run, name)
                t1 = time.monotonic()
                path = self.expected[name]
                problem = None
                if oracle.answer_hash(run.spark, path, df.schema) != ref[name]:
                    problem = oracle.mismatch(df.toPandas(), oracle.read_answer(path))
            except Exception as e:  # a raising query is a failed operation
                t1, problem = time.monotonic(), f"{type(e).__name__}: {e}"
            warm[name], check[name] = t1 - t0, time.monotonic() - t1
            run.check(name, problem)
        run.record.update(warm_s=warm, check_s=check)
        return ref

    def run(self, run: Run) -> dict:
        self.lake = lakegen.cached_lake(run.cache, LAKE_SEED, LAKE_SF)
        setup_s, (self.specs, minhash_index) = run.setup(_load_curation)
        setup_s += run.prep("minhash_index",
                            lambda: minhash_index(run.spark, self.lake))
        self.expected = oracle.answers(
            self.lake, {n: self.specs[n].sql for n in self.names},
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected"),
            os.path.join(run.cache, "oracle"))
        ref = self.warm_and_check(run)
        lat: dict[str, list[float]] = {n: [] for n in self.names}
        passes, steal = 0, []
        cpu0, t_start = run.jvm.cpu_s(), time.monotonic()
        while passes < MIN_PASSES or time.monotonic() - t_start < run.seconds:
            passes += 1
            s0 = probes.steal_s()
            for name in self.order(run.seed, passes):
                s = self.timed(run, name, ref)
                if s is not None:
                    lat[name].append(s)
            steal.append(probes.steal_s() - s0)
        samples = [x for v in lat.values() for x in v]
        run.record.update(passes=passes, query_s=lat, pass_steal_s=steal,
                          op_s_p90=_tail(samples, 90),
                          jvm_cpu_per_pass_s=(run.jvm.cpu_s() - cpu0) / passes)
        result = {"setup_s": setup_s, "wall_s": _median_pass(lat.values()),
                  "op_s_p50": median(samples)}
        if not run.trace:
            return result

        def body():
            for name in self.order(run.seed, passes + 1):
                self.timed(run, name, ref, traced=True)

        out, (jobs, stages) = run.traced_pass(body, result["wall_s"])
        total, gap, per_op = _fold_ops(run.spans, jobs, stages)
        out.update(_layer_metrics(total, gap))
        out["plans.build_s"] = median(run.spans.durations("plans.build"))
        out["plans.exec_s"] = median(run.spans.durations("plans.exec"))
        for op, (wall, prof) in per_op.items():
            q = op.split("#")[0]
            out.update({f"curation.{q}.s": wall,
                        f"curation.{q}.jobs": prof.jobs,
                        f"curation.{q}.gap_s": wall - prof.job_s,
                        f"curation.{q}.shuffle_records":
                            prof.metrics["shuffle_records"]})
        return out


class GhIngest:
    """The reference's two ingestion planes over one seeded GH Archive feed:
    each hour through the batch pipeline (bronze JSON, silver parquet
    partitioned by event_date, the four gold dims), then the same files
    through the Structured Streaming upsert sink keyed on event id."""

    def inputs(self, run: Run) -> None:
        self.files = ghgen.cached_feed(run.cache, run.seed, ghgen.HOURS,
                                       ghgen.EVENTS_PER_HOUR)
        self.bytes_in = sum(os.path.getsize(f) for f in self.files)
        self.events = 0
        for f in self.files:
            with open(f, "rb") as fh:
                self.events += sum(1 for _ in fh)

    def round(self, run: Run, name: str, files: list[str],
              traced: bool = False) -> dict:
        """Batch phase then streaming drain over ``files``, into fresh
        directories; the outputs are checked afterwards by :meth:`check`."""
        runner, schema, stages, streaming = self.modules
        out = os.path.join(run.scratch, name)
        landing = os.path.join(out, "landing")
        os.makedirs(landing)
        for f in files:
            os.link(f, os.path.join(landing, os.path.basename(f)))
        r = {"out": out, "hours": [], "errors": {}}
        t0 = time.monotonic()
        for i, f in enumerate(files):
            op = f"hour{i:02d}"
            pipe = runner.gh_archive_pipeline(run.spark, f, f"{out}/silver/{op}",
                                              f"{out}/gold/{op}")
            if traced:
                run.set_group(op)
                for task in pipe.tasks.values():
                    task.fn = _spanned(run.spans, f"elt.{task.name}", task.fn)
            th = time.monotonic()
            try:
                with run.spans.span("op", op=op) if traced else nullcontext():
                    pipe.run()
            except Exception as e:  # a raising hour is a failed operation
                r["errors"][op] = f"{type(e).__name__}: {e}"
            r["hours"].append(time.monotonic() - th)
        r["batch_s"] = time.monotonic() - t0
        if traced:
            run.set_group(None)  # micro-batch jobs are found by time window
        r["window_ms"] = [int(time.time() * 1000), 0]
        t1 = time.monotonic()
        r["progress"] = []
        try:
            df = stages.to_silver(streaming.read_file_stream(
                run.spark, landing, schema.GH_EVENT_SCHEMA, fmt="json",
                max_files_per_trigger=1))
            q = streaming.start_upsert_sink(df, f"{out}/sink", f"{out}/checkpoint",
                                            keys=["id"], spark=run.spark)
            r["start_s"] = time.monotonic() - t1
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"drain exceeded {STREAM_TIMEOUT_S}s")
            r["progress"] = q.recentProgress
        except Exception as e:  # a failed drain is a failed operation
            r["errors"]["stream"] = f"{type(e).__name__}: {e}"
        r["stream_s"] = time.monotonic() - t1
        r["window_ms"][1] = int(time.time() * 1000)
        r["wall_s"] = time.monotonic() - t0
        return r

    def answers(self) -> None:
        """Oracle answers for the feed, computed once per run in DuckDB:
        ``dim_summary_oracle`` per hour file, and the distinct input ids
        with their sum."""
        import duckdb
        dim_summary_oracle = self.modules[2].dim_summary_oracle
        con = duckdb.connect()
        self.want_gold = [con.execute(dim_summary_oracle(f)).fetchall()
                          for f in self.files]
        paths = ", ".join(f"'{f}'" for f in self.files)
        ids, id_sum = con.execute(
            f"SELECT count(DISTINCT id), sum(DISTINCT id::BIGINT) FROM "
            f"read_json([{paths}], columns={{id: 'VARCHAR'}})").fetchone()
        self.want_sink = (ids, ids, id_sum)

    def check(self, run: Run, r: dict) -> None:
        """Each hour's gold dims against its oracle answer; the stream sink
        holds one row per distinct input id, with the input's id sum."""
        import duckdb
        con = duckdb.connect()
        for i, want in enumerate(self.want_gold):
            op = f"hour{i:02d}"
            problem = r["errors"].get(op)
            if problem is None:
                got = con.execute(_gold_summary(f"{r['out']}/gold/{op}")).fetchall()
                problem = None if got == want else f"gold {got} != oracle {want}"
            run.check(op, problem)
        problem = r["errors"].get("stream")
        if problem is None:
            got = con.execute(
                "SELECT count(*), count(DISTINCT id), sum(id::BIGINT) FROM "
                f"read_parquet('{r['out']}/sink/*.parquet')").fetchone()
            problem = (None if got == self.want_sink
                       else f"sink (rows, ids, id sum) {got} != input {self.want_sink}")
        run.check("stream", problem)

    def run(self, run: Run) -> dict:
        self.inputs(run)
        setup_s, self.modules = run.setup(_load_ingest)
        t0 = time.monotonic()
        self.answers()
        t1 = time.monotonic()
        # warm-up, not timed: the first hour through both planes. The cold
        # cost lands on the first hour and the first micro-batch; every
        # timed round is checked, so this one only counts what raised.
        warm = self.round(run, "warm", self.files[:1])
        for op, problem in warm["errors"].items():
            run.check(f"warm {op}", problem)
        run.record.update(answers_s=t1 - t0, warm_s=warm["wall_s"])
        rounds, steal = [], []
        cpu0, t_start = run.jvm.cpu_s(), time.monotonic()
        while len(rounds) < MIN_PASSES or time.monotonic() - t_start < run.seconds:
            s0 = probes.steal_s()
            rounds.append(self.round(run, f"round{len(rounds)}", self.files))
            steal.append(probes.steal_s() - s0)
            self.check(run, rounds[-1])
        hours = [h for r in rounds for h in r["hours"]]
        per_op = [*zip(*[r["hours"] for r in rounds]), [r["stream_s"] for r in rounds]]
        run.record.update(rounds=len(rounds), hour_s=[r["hours"] for r in rounds],
                          stream_s=[r["stream_s"] for r in rounds],
                          pass_steal_s=steal, op_s_p90=_tail(hours, 90),
                          jvm_cpu_per_pass_s=(run.jvm.cpu_s() - cpu0) / len(rounds))
        result = {"setup_s": setup_s, "wall_s": _median_pass(per_op),
                  "op_s_p50": median(hours)}
        if not run.trace:
            return result
        traced = {}

        def body():
            traced.update(self.round(run, "traced", self.files, traced=True))

        out, (jobs, stages) = run.traced_pass(body, result["wall_s"])
        self.check(run, traced)
        total, gap, _ = _fold_ops(run.spans, jobs, stages)
        drain = eventlog.profile(jobs, stages, window_ms=tuple(traced["window_ms"]))
        eventlog.add(total, drain)
        out.update(_layer_metrics(total, gap))
        written = (glob.glob(f"{traced['out']}/silver/**/*.parquet", recursive=True)
                   + glob.glob(f"{traced['out']}/gold/**/*.parquet", recursive=True))
        parts = {k: [float(p["durationMs"].get(k, 0)) for p in traced["progress"]]
                 for k in STREAM_PARTS}
        out.update({
            "elt.silver_s": median(run.spans.durations("elt.silver")),
            "elt.gold_s": median(run.spans.durations("elt.gold")),
            "elt.bytes_in": self.bytes_in,
            "elt.bytes_written": sum(os.path.getsize(p) for p in written),
            "elt.files_written": len(written),
            "elt.events_per_s": self.events / traced["batch_s"],
            "stream.batches": len(traced["progress"]),
            "stream.start_s": traced.get("start_s", 0.0),
            "stream.write_amp": drain.metrics["output_bytes"] / self.bytes_in,
            "stream.events_per_s": self.events / traced["stream_s"],
        })
        if traced["progress"]:
            out.update({f"stream.{k}_ms_p50": median(v) for k, v in parts.items()})
            out["stream.batch_s_p50"] = median(parts["triggerExecution"]) / 1000.0
        return out


def _median_pass(per_op) -> float:
    """Wall of one pass built from each operation's median latency across
    the timed passes: a slow outlier in one pass of one operation does not
    move it, and operations that never succeeded add nothing."""
    return sum(median(v) for v in per_op if v)


def _tail(samples: list[float], p: float) -> float | None:
    """The p-th percentile, or None when too few samples lie beyond it."""
    try:
        return percentile(samples, p)
    except ValueError:
        return None


def _spanned(spans: Spans, name: str, fn):
    def call(*args, **kwargs):
        with spans.span(name):
            return fn(*args, **kwargs)
    return call


def _gold_summary(gold: str) -> str:
    """DuckDB summary of one hour's written gold dims, in the row shape of
    ``stages.dim_summary_oracle``."""
    return f"""
        SELECT 'events' AS gold_table, count(*)::BIGINT,
               coalesce(sum(id::BIGINT), 0)::BIGINT,
               md5(coalesce(string_agg(d, '|' ORDER BY d), ''))
        FROM (SELECT id, id || '|' || type || '|'
                     || strftime(created_at, '%Y-%m-%d %H:%M:%S') || '|'
                     || CAST(actor_id AS VARCHAR) || '|' || repo_name || '|'
                     || CAST(public AS VARCHAR) AS d
              FROM read_parquet('{gold}/events/*.parquet'))
        UNION ALL
        SELECT 'organizations', count(*)::BIGINT, coalesce(sum(id), 0)::BIGINT,
               md5(coalesce(string_agg(login, '|' ORDER BY login), ''))
        FROM read_parquet('{gold}/organizations/*.parquet')
        UNION ALL
        SELECT 'repos', count(*)::BIGINT, coalesce(sum(id), 0)::BIGINT,
               md5(coalesce(string_agg(name, '|' ORDER BY name), ''))
        FROM read_parquet('{gold}/repos/*.parquet')
        UNION ALL
        SELECT 'users', count(*)::BIGINT, coalesce(sum(id), 0)::BIGINT,
               md5(coalesce(string_agg(login, '|' ORDER BY login), ''))
        FROM read_parquet('{gold}/users/*.parquet')
        ORDER BY gold_table
        """


WORKLOADS = {"curation": Curation, "gh_ingest": GhIngest}
