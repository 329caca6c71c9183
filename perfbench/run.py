"""Seeded benchmark of the interval engine's public operators.

    python3 perfbench/run.py --workload overlap_keyed --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout.  It generates the workload's inputs
from ``--seed`` (parquet, under ``.perfbench_work/``), computes the
expected result of every query with DuckDB, then drives the engine as
a single client in a closed loop: one round of the workload's public
calls after another, each query forced to the ``noop`` sink and checked
against the oracle.

- Set-up, timed as ``setup_s``: ``get_spark`` (which launches the JVM)
  plus one warm-up round.
- ``WARM_ROUNDS`` more rounds, untimed: the JIT needs a few rounds
  before round times settle.
- Measured: rounds until ``--seconds`` have passed (at least
  ``MIN_ROUNDS``), tracing off; metrics are medians over rounds.
- ``--trace 1`` then runs as many rounds again with a Spark job group
  per public call and reports per-layer counters instead of the
  end-to-end metrics.

Human-readable lines come first; the last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WARM_ROUNDS = 1  # untimed rounds between the set-up and the measured ones
MIN_ROUNDS = 2  # measured rounds per run, however long they take
STOP_ADDING_ROUNDS_S = 110  # keeps a run well inside 180 s
DRIVER_MEM = "2g"  # fits a shared 15 GiB host; get_spark defaults to 48g
MB = 1e6

# per-layer metrics: one prefix per public call a workload can make
OPS = (
    "interval_join", "interval_join_outer", "interval_join_by",
    "quantile_windows", "groupby_interval_join", "merge_spans", "asof_join",
)
OP_FIELDS = (
    "call_s", "call_jobs", "exec_s", "exec_jobs", "exec_tasks",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "out_rows",
)
END_TO_END = {
    "setup_s": "s", "round_s": "s", "rows_per_s": "1/s",
    "blocking_call_s": "s", "peak_rss_mb": "MB",
}


def pin_environment(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and give the
    driver an explicit, fixed heap."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # no JVM perf-data files (they go to /tmp regardless of tmpdir)
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            # a fixed heap (-Xms = the driver memory) keeps heap resizing
            # out of peak_rss_mb
            f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    })


class RssSampler:
    """Peak resident memory of the Python process plus the driver JVM,
    sampled from ``/proc`` while it runs."""

    def __init__(self, pids, period_s: float = 0.05):
        self.pids, self.period_s, self.peak = pids, period_s, 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, sum(self._rss(p) for p in self.pids))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Run:
    """One benchmark run: a workload's inputs, oracle and session."""

    def __init__(self, workload, data_dir: str, rows: dict, expected: dict,
                 cores: int):
        self.expected, self.cores = expected, cores
        self.env = {"data": data_dir, "rows": rows}
        self.steps = workload.steps(self.env)
        self.input_rows = sum(s.input_rows for s in self.steps)
        self.spark = None
        self.conf0: dict = {}
        self.attempted = self.failed = 0
        self.leftover_blocks = self.conf_drift = 0

    def start_session(self) -> float:
        from dataframeintervals_jl_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(cpus=self.cores)
        dt = time.perf_counter() - t0
        self.env["spark"] = self.spark
        self.conf0 = dict(self.spark.conf.getAll)
        return dt

    def round(self, name: str, tracer=None, parent=None) -> dict:
        """One round of the workload's calls; counts attempts and failures."""
        from pyspark.sql import Observation

        rec = {"steps": {}, "call_s": 0.0}
        attempted = failed = 0
        broken = False
        t_round = time.perf_counter()
        if tracer:
            parent = tracer.span(name, t_round, t_round, parent)
        for st in self.steps:
            attempted += st.checks is not None
            if broken:  # an earlier call of this round raised
                failed += st.checks is not None
                continue
            try:
                if tracer:
                    tracer.group(f"{name}:{st.label}:call")
                t0 = time.perf_counter()
                df = st.fn(self.env)
                t1 = time.perf_counter()
                if st.checks is not None:
                    obs = Observation(f"{name}:{st.label}")
                    if tracer:
                        tracer.group(f"{name}:{st.label}:exec")
                        sql_since = tracer.sql_executions()
                    df.observe(obs, *st.checks()).write.format("noop").mode(
                        "overwrite").save()
                t2 = time.perf_counter()
            except Exception:  # a failing query is counted; the run goes on
                traceback.print_exc()
                broken = True
                failed += st.checks is not None
                continue
            s = {"call_s": t1 - t0, "exec_s": t2 - t1}
            rec["call_s"] += t1 - t0
            if st.checks is not None:
                got = {k: int(v or 0) for k, v in obs.get.items()}
                s["out_rows"] = got["nrows"]
                if got != self.expected[st.label]:
                    print(f"MISMATCH {name} {st.label}: got {got}, "
                          f"expected {self.expected[st.label]}", file=sys.stderr)
                    failed += 1
            if tracer:
                s["call"] = tracer.counters(f"{name}:{st.label}:call")
                s["exec"] = tracer.counters(f"{name}:{st.label}:exec")
                if st.label == "interval_join":
                    s["bin_rows"] = tracer.generated_rows(sql_since)
                if st.label == "interval_join_outer":  # before its release
                    s["cached_mb"] = tracer.cached_mb()
                sid = tracer.span(st.label, t0, t2, parent)
                tracer.span("call", t0, t1, sid)
                tracer.span("exec", t1, t2, sid)
            rec["steps"][st.label] = s
        rec["wall"] = time.perf_counter() - t_round
        if tracer:
            tracer.clear_group()
            tracer.spans[parent]["end"] = t_round + rec["wall"]
        if not self._clean():
            failed = attempted  # debris: no query of the round counts as good
        self.attempted += attempted
        self.failed += failed
        return rec

    def _clean(self) -> bool:
        """Hygiene after a round: no cached blocks once caches are
        cleared, and the session conf as it was when the session began."""
        self.spark.catalog.clearCache()
        jsc = self.spark.sparkContext._jsc.sc()
        deadline = time.perf_counter() + 2.0  # unpersist is asynchronous
        while True:
            blocks = sum(r.numCachedPartitions() for r in jsc.getRDDStorageInfo())
            if not blocks or time.perf_counter() > deadline:
                break
            time.sleep(0.05)
        conf = dict(self.spark.conf.getAll)
        drift = sum(conf.get(k) != self.conf0.get(k) for k in conf.keys() | self.conf0.keys())
        self.leftover_blocks = max(self.leftover_blocks, blocks)
        self.conf_drift = max(self.conf_drift, drift)
        return not blocks and not drift

    def measure(self, seconds: float, t_start: float, count: int | None = None,
                tracer=None, parent=None) -> list[dict]:
        """Rounds until ``seconds`` passed (at least MIN_ROUNDS), or
        exactly ``count`` rounds."""
        out: list[dict] = []
        t0 = time.perf_counter()
        phase = "traced" if tracer else "timed"
        while True:
            now = time.perf_counter()
            if count is not None:
                if len(out) >= count:
                    break
            elif len(out) >= MIN_ROUNDS and now - t0 >= seconds:
                break
            if out and now - t_start > STOP_ADDING_ROUNDS_S:
                break
            out.append(self.round(f"{phase}{len(out)}", tracer, parent))
        return out


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits on EOF
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: a VM's share of time taken
    by other tenants shows as steal."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(run: Run, setup_s: float, rounds: list[dict],
               peak_rss: int) -> dict:
    round_s = median([r["wall"] for r in rounds])
    return {
        "setup_s": setup_s,
        "round_s": round_s,
        "rows_per_s": run.input_rows / round_s,
        "blocking_call_s": median([r["call_s"] for r in rounds]),
        "peak_rss_mb": peak_rss / MB,
    }


def per_layer(run: Run, traced: list[dict], untraced: list[dict],
              get_spark_s: float, host: tuple) -> dict:
    """Medians over the traced rounds of every per-layer metric; a call
    the workload does not make reads 0."""
    per_round = []
    for r in traced:
        steps = r["steps"]
        m = {}
        for op in OPS:
            s = steps.get(op)
            for f in OP_FIELDS:
                m[f"{op}.{f}"] = 0.0
            if s is None:
                continue
            both = (s["call"], s["exec"])
            m.update({
                f"{op}.call_s": s["call_s"],
                f"{op}.call_jobs": s["call"]["jobs"],
                f"{op}.exec_s": s["exec_s"],
                f"{op}.exec_jobs": s["exec"]["jobs"],
                f"{op}.exec_tasks": s["exec"]["tasks"],
                f"{op}.shuffle_write_mb": sum(c["shuffle_write_mb"] for c in both),
                f"{op}.shuffle_read_mb": sum(c["shuffle_read_mb"] for c in both),
                f"{op}.spill_mb": sum(c["spill_mb"] for c in both),
                f"{op}.out_rows": s.get("out_rows", 0),
            })
        for op in ("read_table", "release_join_caches"):
            s = steps.get(op)
            m[f"{op}.call_s"] = s["call_s"] if s else 0.0
            m[f"{op}.call_jobs"] = s["call"]["jobs"] if s else 0
        ij, outer = steps.get("interval_join"), steps.get("interval_join_outer")
        bins = ij["bin_rows"] if ij else 0
        inputs = next((st.input_rows for st in run.steps if st.label == "interval_join"), 0)
        m["interval_join.bin_rows_per_input_row"] = bins / inputs if inputs else 0.0
        m["interval_join.out_rows_per_bin_row"] = ij["out_rows"] / bins if bins else 0.0
        m["interval_join.cached_mb"] = outer["cached_mb"] if outer else 0.0
        groups = [c for s in steps.values() if "call" in s for c in (s["call"], s["exec"])]
        run_s = sum(c["run_s"] for c in groups)
        busiest = max(groups, key=lambda c: c["busiest_stage_run_s"], default=None)
        m["spark.executor_run_s"] = run_s
        m["spark.gc_s"] = sum(c["gc_s"] for c in groups)
        m["spark.core_busy_frac"] = run_s / (r["wall"] * run.cores)
        m["spark.max_task_s_over_median"] = busiest["skew"] if busiest else 1.0
        per_round.append(m)
    out = {k: median([m[k] for m in per_round]) for k in per_round[0]}
    out["get_spark.call_s"] = get_spark_s
    out["cache.leftover_blocks"] = run.leftover_blocks
    out["session.conf_drift"] = run.conf_drift
    out["host.load1_before"], out["host.load1_after"], out["host.steal_frac"] = host
    out["trace.round_s"] = median([r["wall"] for r in traced])
    out["trace.overhead_s"] = out["trace.round_s"] - median([r["wall"] for r in untraced])
    return out


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix in ("core_busy_frac", "max_task_s_over_median", "steal_frac",
                  "bin_rows_per_input_row", "out_rows_per_bin_row"):
        return "ratio"
    if suffix.startswith("load1"):
        return "load"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    load_before, ticks_before = os.getloadavg()[0], cpu_ticks()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        import dataframeintervals_jl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    import duckdb

    import gen
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    warnings.simplefilter("ignore", UserWarning)  # the engine's skew advisories

    run = None
    try:
        data_dir = os.path.join(run_dir, "data")
        rows, described = {}, {}
        for name, spec in sorted(wl.tables.items()):
            table = gen.make_table(args.seed, name, spec)
            gen.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
            rows[name], described[name] = table.num_rows, gen.describe(table)
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb')}'")
        expected = wl.oracle(con, data_dir)
        con.close()

        run = Run(wl, data_dir, rows, expected, cores)
        t0 = time.perf_counter()
        get_spark_s = run.start_session()
        run.round("setup")
        setup_s = time.perf_counter() - t0
        warm = [run.round(f"warm{k}")["wall"] for k in range(WARM_ROUNDS)]
        print(f"# set-up: get_spark {get_spark_s:.3f} s, first round "
              f"{setup_s - get_spark_s:.3f} s; untimed rounds "
              + ", ".join(f"{w:.3f} s" for w in warm))

        pids = [os.getpid(), run.spark.sparkContext._gateway.proc.pid]
        with RssSampler(pids) as rss:
            rounds = run.measure(args.seconds, t_start)
        traced, tracer = [], None
        if args.trace:
            tracer = Tracer(run.spark)
            root = tracer.span(f"{wl.name} seed={args.seed}", t_start, t_start, None)
            traced = run.measure(args.seconds, t_start, count=len(rounds),
                                 tracer=tracer, parent=root)
    finally:
        if run is not None and run.spark is not None:
            shutdown(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    steal, total = (b - a for a, b in zip(ticks_before, cpu_ticks()))
    host = (load_before, os.getloadavg()[0], steal / total if total else 0.0)
    if args.trace:
        metrics = per_layer(run, traced, rounds, get_spark_s, host)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"metrics": metrics, "spans": tracer.spans,
                       "rounds": traced}, f)
    else:
        metrics = end_to_end(run, setup_s, rounds, rss.peak)

    print(f"# {wl.name} seed={args.seed} local[{cores}] driver_mem={DRIVER_MEM} "
          f"load1 {host[0]:.2f} -> {host[1]:.2f}, cpu steal {host[2]:.1%}")
    for name, d in described.items():
        print(f"# input {name}: " + " ".join(f"{k}={v}" for k, v in d.items()))
    counts = f"# {len(rounds)} measured rounds"
    print(counts + (f", {len(traced)} traced rounds" if args.trace else ""))
    for st in run.steps:
        calls = [r["steps"][st.label] for r in rounds if st.label in r["steps"]]
        print(f"# {st.label:24s} call {median([c['call_s'] for c in calls]):7.3f} s"
              f"  exec {median([c['exec_s'] for c in calls]):7.3f} s")
    for k, v in metrics.items():
        print(f"{k:50s} {v:14.4f} {unit_of(k)}")
    print(f"# run took {time.perf_counter() - t_start:.1f} s")
    frac = run.failed / run.attempted if run.attempted else 1.0
    print(f"{'failed_frac':50s} {frac:14.4f} ({run.failed} of {run.attempted} queries)")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
